"""The two workloads: their inputs, ops and output checks.

Each op calls spark_geo's public entry points as a user would and ends in
one action that forces the whole result: a collect of a small result, or
one aggregate over a large one that also yields the digest the checker
compares (``reference.digest``).  The check runs after the op's clock
has stopped.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import functions as F

from spark_geo import functions as SG
from spark_geo import join as SJ
from spark_geo import knn as SK
from spark_geo import pipeline as SP
from spark_geo import tiles as ST
from spark_geo.kernel import wkb as K_wkb
from spark_geo.kernel.geom import Geom
from spark_geo.kernel.strtree import STRtree

import inputs
import reference as R

FLAG_RES = 7        # flagship / checkpoint cell resolution
TILE_RES = 10       # page tiles
TILE_PARENT = 6     # rollup resolution
RASTER_RES = 5      # rasterize of the polygon layer
CELL_RES = 7        # cell equi-join resolution
KNN_RES = 7         # ring-expansion kNN resolution
KNN_MAX_RINGS = 16  # cell_nearest_all default
CHECKPOINT_PARTS = 16


class Op:
    """One named op: ``run(it)`` is timed, ``check(result)`` is not."""

    def __init__(self, name, run, check):
        self.name, self.run, self.check = name, run, check


def _digest_cols(df, a, b, dist=None):
    h = F.pmod(F.col(a) * R.DIGEST_K + F.col(b), F.lit(R.DIGEST_P))
    aggs = [F.count(F.lit(1)), F.sum(h)]
    if dist is not None:
        aggs.append(F.sum(dist))
    return tuple(df.agg(*aggs).collect()[0])


HIT_SAMPLE = 10_000  # left points probed for join.hit_ratio


def _hit_ratio(xs, ys, tree, predicate, distance=None):
    """Hits / envelope candidates of the broadcast joins' point probe on
    the first HIT_SAMPLE left points, run on the driver: candidates from
    ``STRtree.query_bulk`` over each point's box padded by ``distance``,
    hits from ``join.probe_batch`` (the joins' own per-batch probe)."""
    xs, ys = xs[:HIT_SAMPLE], ys[:HIT_SAMPLE]
    pad = distance or 0.0
    boxes = [Geom.box(x - pad, y - pad, x + pad, y + pad)
             for x, y in zip(xs.tolist(), ys.tolist())]
    cand = tree.query_bulk(boxes)
    hits = SJ.probe_batch(tree, np.array(inputs.pack_points(xs, ys), dtype=object),
                          predicate=predicate, distance=distance)
    return len(hits[0]) / max(1, cand.shape[1])


class Workload:
    """Base: ``read`` opens a written parquet table, ``reference`` computes
    the expected answers, ``ops`` returns the op list and ``layer_probe``
    adds the traced run's per-layer counts.  ``rows`` is the workload's
    input rows per iteration (pages or left points), counted once."""

    def __init__(self, spark, data, paths, scratch, tracer):
        self.spark, self.paths, self.scratch, self.tracer = spark, paths, scratch, tracer
        self.truth = data["truth"]
        self.stats = {}  # per-layer counts gathered while checking

    def read(self, name):
        return self.spark.read.parquet(self.paths[name][0])

    def span(self, name):
        return self.tracer.span(name)


class PagesPip(Workload):
    """Pages -> geocode -> broadcast PIP against star polygons."""

    @property
    def rows(self):
        return len(self.truth["lon"])

    def reference(self):
        self.ref = R.pages_reference(self.truth, FLAG_RES, TILE_RES, TILE_PARENT)

    def ops(self):
        pages, layer = self.read("pages"), self.read("layer")
        m = len(self.truth["stars"])

        def flagship(it):
            with self.span("pipeline.flagship"):
                df = SP.flagship(pages, layer, res=FLAG_RES)
            with self.span("action.collect"):
                return df.collect()

        def check_flagship(rows):
            R.check_flagship(rows, self.ref["flagship"])
            self.stats["join.pairs"] = sum(r[1] for r in rows)

        def tiles(it):
            with self.span("pipeline.geocode"):
                pts = SP.geocode(pages)
            with self.span("tiles.assign_cells"):
                cells = ST.assign_cells(pts, "lon", "lat", TILE_RES)
            with self.span("tiles.tile_stats"):
                stats = ST.tile_stats(cells).where(F.col("cell") >= 0)
            with self.span("tiles.tile_rollup"):
                roll = ST.tile_rollup(stats, TILE_PARENT, aggs=[F.sum("n").alias("n")])
            with self.span("tiles.cells_to_polygons"):
                boxes = ST.cells_to_polygons(roll, cell_col="parent_cell")
            with self.span("action.collect"):
                box_rows = boxes.select("parent_cell", "n", "geom").collect()
            with self.span("tiles.rasterize"):
                ras = ST.rasterize(layer, RASTER_RES)
            with self.span("action.collect"):
                ras_rows = (ras.groupBy("polygon_id")
                            .agg(F.count(F.lit(1)), F.sum("area_frac"), F.min("cell"), F.max("cell"))
                            .collect())
            return box_rows, ras_rows

        def check_tiles(res):
            box_rows, ras_rows = res
            R.check_tiles(box_rows, self.ref["tiles"], inputs.unpack_polygon)
            R.check_rasterize([tuple(r) for r in ras_rows], m, self.truth["stars"].bounds, RASTER_RES)
            self.stats["tiles.cells_out"] = len(box_rows)
            self.stats["tiles.rasterize_rows"] = sum(r[1] for r in ras_rows)

        def checkpoint_write(it):
            out = os.path.join(self.scratch, f"checkpoint-{it}")
            with self.span("pipeline.run_with_checkpoint"):
                SP.run_with_checkpoint(pages, layer, out, res=FLAG_RES,
                                       num_parts=CHECKPOINT_PARTS)
            return out

        def check_checkpoint(out):
            try:
                data = os.path.join(out, "data")
                t = pads.dataset(data, format="parquet", partitioning="hive").to_table(
                    columns=["url", "polygon_id"])
                page = np.array([int(u.rsplit("/", 1)[1]) for u in t.column("url").to_pylist()])
                R.check_digest(R.digest(page, t.column("polygon_id").to_numpy()),
                               self.ref["pairs"], "checkpoint_write")
                size = sum(os.path.getsize(os.path.join(d, f))
                           for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet"))
                self.stats["pipeline.checkpoint_bytes_per_row"] = size / max(1, t.num_rows)
            finally:
                shutil.rmtree(out, ignore_errors=True)

        return [Op("flagship", flagship, check_flagship),
                Op("tiles", tiles, check_tiles),
                Op("checkpoint_write", checkpoint_write, check_checkpoint)]

    def layer_probe(self, time_it):
        pages = self.read("pages")
        self.stats["pipeline.geocode_s"] = time_it(
            lambda: SP.geocode(pages).select("lon", "lat").write.format("noop").mode("overwrite").save())
        # flagship's probe: tagged pages x the star layer, "intersects"
        lon, lat = self.truth["lon"], self.truth["lat"]
        tagged = ~np.isnan(lon)
        tree = STRtree([K_wkb.loads(bytes(r[0])) for r in self.read("layer").select("geom").collect()])
        self.stats["join.hit_ratio"] = _hit_ratio(lon[tagged], lat[tagged], tree, "intersects")


class PointCell(Workload):
    """Skewed points joined to clustered sites and to star polygons, by
    the broadcast plan (dwithin) and by the shuffled cell plans (point in
    polygon, ring-expansion kNN)."""

    @property
    def rows(self):
        return len(self.truth["pid"])

    def reference(self):
        self.ref = R.point_cell_reference(self.truth, KNN_RES, KNN_MAX_RINGS)

    def ops(self):
        points, sites, polys = self.read("points"), self.read("sites"), self.read("polygons")
        pois = self.read("pois")
        d = self.truth["distance"]

        def dwithin(it):
            with self.span("join.broadcast_lonlat_join"):
                df = SJ.broadcast_lonlat_join(
                    points, sites, lon="lon", lat="lat", predicate="dwithin", distance=d,
                    right_id="sid", keep=["pid"], right_lon="lon", right_lat="lat")
            with self.span("action.digest"):
                return _digest_cols(df, "pid", "sid")

        def check_dwithin(got):
            R.check_digest(got, self.ref["dwithin"], "dwithin")
            self.stats["join.pairs"] = got[0]

        def cell_pip(it):
            with self.span("join.cell_spatial_join"):
                df = SJ.cell_spatial_join(points, polys, left_geom="geom", right_geom="geom",
                                          left_id="pid", right_id="polygon_id", res=CELL_RES,
                                          left_is_points=True)
            with self.span("action.digest"):
                return _digest_cols(df, "pid", "polygon_id")

        def check_pip(got):
            R.check_digest(got, self.ref["cell_pip"], "cell_pip")
            self.stats["cell_pairs"] = got[0]

        def cell_knn(it):
            with self.span("knn.cell_nearest_all"):
                df = SK.cell_nearest_all(points, pois, left_geom="geom", right_geom="geom",
                                         left_id="pid", right_id="sid", res=KNN_RES,
                                         max_rings=KNN_MAX_RINGS)
            with self.span("action.digest"):
                return _digest_cols(df, "pid", "sid", dist="distance")

        def check_knn(got):
            R.check_digest(got, self.ref["cell_knn"], "cell_knn")
            R.expect_close(got[2], self.ref["cell_knn_dist"], "cell_knn distance sum")
            self.stats["knn.pairs"] = got[0]

        return [Op("dwithin", dwithin, check_dwithin),
                Op("cell_pip", cell_pip, check_pip),
                Op("cell_knn", cell_knn, check_knn)]

    def layer_probe(self, time_it):
        """Cell candidates of cell_pip, recomputed with the public cell
        functions (st_cell / st_cell_cover, explode, equi-join)."""
        points, polys = self.read("points"), self.read("polygons")
        rc = polys.select(F.explode(SG.st_cell_cover(F.col("geom"), CELL_RES)).alias("c"))
        lc = points.select(SG.st_cell(F.col("geom"), CELL_RES).alias("c"))
        cand = lc.join(rc, "c").count()
        self.stats["join.cell_candidates"] = cand
        self.stats["join.cell_hit_ratio"] = self.stats.get("cell_pairs", 0) / max(1, cand)
        # dwithin's probe: points x the sites' coordinates
        sites = self.read("sites").select("lon", "lat").collect()
        tree = STRtree.from_points(np.array([r[0] for r in sites]), np.array([r[1] for r in sites]))
        self.stats["join.hit_ratio"] = _hit_ratio(self.truth["px"], self.truth["py"], tree,
                                                  "dwithin", self.truth["distance"])


WORKLOADS = {"pages_pip": PagesPip, "point_cell": PointCell}
