"""Spatial joins — the heart of the engine (SURVEY.md §2.6).

Two physical strategies, both reproducing the reference's
``STRtree.query_bulk`` inner-join semantics (reference
strtree.py:135-228: left rows with None/empty geometry omitted,
candidates from envelope overlap, exact predicate refine with the
probe geometry prepared once):

1. **broadcast** (small right side): collect it once on the driver
   into one ``_BroadcastSide`` (point coordinates or an STRtree),
   ``sc.broadcast`` it, and probe each left Arrow batch inside ONE
   ``mapInArrow`` runner — zero shuffle, the Spark analogue of
   query_bulk-per-batch.  Every broadcast join and kNN, with WKB or
   lon/lat probes, runs through that one path.  Point probes take a
   fully vectorized two-phase path: envelope candidates from the CSR
   grid (kernel.grid), then ONE ray-casting PIP call per distinct
   candidate polygon over all its candidate points (the per-batch
   "prepare once" of reference src/strtree.c:286).

2. **cell equi-join** (large ✕ large): both sides keyed by quad-grid
   cells (points: 1 cell; polygons: exploded cover), Catalyst
   sort-merge/broadcast equi-join on cell, exact refine, pair dedup.
   AQE handles runtime skew; pipeline.salt_hot_cells handles
   persistent hot cells explicitly (north_rule).

At 100 TB scale: strategy 1 is the right plan whenever the polygon
layer fits in executor memory (admin boundaries, tile grids — the
common case); it touches each page row exactly once with no exchange.
Strategy 2 is the fallback for billion-polygon right sides.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .kernel import cell as K_cell
from .kernel import grid as K_grid
from .kernel import measure as K_m
from .kernel import predicates as K_p
from .kernel import wkb as K_wkb
from .kernel.geom import Geom
from .kernel.strtree import PREDICATES, STRtree
from . import functions as SG

# Hard cap on the rows a DIRECT broadcast API will collect to the
# driver (r6, VERDICT r5 item 4): the auto-picker (spatial_join)
# already limit-probes before choosing broadcast, but a user calling
# broadcast_* with a huge right side previously got a driver OOM
# instead of an actionable error.  The cap is enforced by collecting
# AT MOST limit+1 rows (no extra count job).
BROADCAST_RIGHT_LIMIT = 5_000_000

# predicates that hold between two points exactly when they coincide;
# every other predicate (touches, overlaps, crosses) never holds
_COINCIDE = {"intersects", "within", "covered_by", "contains", "covers",
             "contains_properly"}


def _collect_right(right, cols, limit, api):
    rows = right.select(*cols).limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{api}: right side exceeds {limit} rows; a side this "
            "large cannot be broadcast as a driver-built tree — use "
            "cell_spatial_join / cell_nearest_all (the large-by-large "
            "plans), or raise the limit explicitly if the driver has "
            "the memory")
    return rows


# ---------------------------------------------------------------------------
# the broadcast side and the probe batch (both used inside the worker)
# ---------------------------------------------------------------------------

class _BroadcastSide:
    """The right side of every broadcast join and kNN, built once on the
    driver and broadcast as one object: ``ids`` plus either the finite
    coordinates ``xs``/``ys`` (at positions ``pos`` into ``ids``) of an
    all-point side, or an STRtree (``tree``)."""

    def __init__(self, ids, tree: STRtree | None = None, xs=None, ys=None):
        self.ids, self.tree = ids, tree
        if tree is None:
            pos = np.arange(len(xs))
        elif getattr(tree, "_points_only", False) or all(
                tree._geoms[i].type_id == 0 for i in tree._idx):
            # point items have degenerate envelopes: the coordinates are
            # the boxes' min corners
            xs, ys, pos = tree._boxes[:, 0], tree._boxes[:, 1], tree._idx
            self.tree = None
        if self.tree is None:
            # a point with no finite position can never match or be nearest
            ok = np.isfinite(xs) & np.isfinite(ys)
            self.xs, self.ys, self.pos = xs[ok], ys[ok], pos[ok]
        self._grid = self._point_tree = None  # worker-side caches

    @staticmethod
    def check_predicate(predicate, distance):
        """Driver-side validation, so a bad call fails before any job."""
        if predicate != "dwithin" and predicate not in PREDICATES:
            raise ValueError(f"unknown predicate {predicate!r}; one of "
                             f"{sorted(k for k in PREDICATES if k)} or 'dwithin'")
        if predicate == "dwithin" and distance is None:
            raise ValueError("distance parameter is required with dwithin predicate")

    @classmethod
    def collect(cls, right, api, right_id, right_geom, right_lon=None,
                right_lat=None, max_right_rows=None) -> "_BroadcastSide":
        """Collect ``right_id`` and the WKB ``right_geom`` or the DOUBLE
        pair ``right_lon``/``right_lat`` (then no Geom objects are built
        or pickled) under the broadcast cap; an explicit 0 is a cap."""
        if (right_lon is None) != (right_lat is None):
            raise ValueError(f"{api}: give both right_lon and right_lat, or neither")
        limit = BROADCAST_RIGHT_LIMIT if max_right_rows is None else max_right_rows
        if right_lon is None:
            rows = _collect_right(right, [right_id, right_geom], limit, api)
            return cls(np.asarray([r[0] for r in rows], dtype=np.int64),
                       STRtree([SG._loads_safe(r[1]) for r in rows]))
        rows = _collect_right(right, [right_id, right_lon, right_lat], limit, api)
        xs, ys = (np.fromiter((np.nan if r[i] is None else r[i] for r in rows),
                              np.float64, count=len(rows)) for i in (1, 2))
        return cls(np.asarray([r[0] for r in rows], dtype=np.int64), xs=xs, ys=ys)

    def geom_tree(self) -> STRtree:
        """STRtree for the general-geometry paths; an all-point side
        builds it once per worker, when a non-point batch needs it."""
        if self.tree is not None:
            return self.tree
        if self._point_tree is None:
            geoms = [None] * (int(self.pos.max(initial=-1)) + 1)
            for p, x, y in zip(self.pos.tolist(), self.xs.tolist(), self.ys.tolist()):
                geoms[p] = Geom.point(x, y)
            self._point_tree = STRtree(geoms)
        return self._point_tree

    def query(self, probe: "_Probe", predicate, distance):
        """query_bulk over one probe batch -> (row, position) arrays.
        Point batches take grid candidates, then one ``hypot`` against
        an all-point side, or one vectorized kernel call per candidate
        geometry (the per-batch "prepare once" of src/strtree.c:286)."""
        if not probe.points:
            pairs = self.geom_tree().query_bulk(probe.geoms(), predicate=predicate,
                                                distance=distance)
            return pairs[0], pairs[1]
        pad = distance if predicate == "dwithin" else 0.0
        if self._grid is None or self._grid.pad != pad:
            boxes = self.tree._boxes if self.tree is not None else \
                np.column_stack([self.xs, self.ys, self.xs, self.ys])
            self._grid = K_grid.BoxGrid(boxes, pad)
        xs, ys = probe.xs, probe.ys
        cl, cr = self._grid.candidates(xs, ys)
        pos = self.tree._idx if self.tree is not None else self.pos
        if predicate is None:
            return cl, pos[cr]
        if self.tree is None:
            d = np.hypot(xs[cl] - self.xs[cr], ys[cl] - self.ys[cr])
            if predicate == "dwithin":
                keep = d <= distance
            else:  # vertex coincidence, like point_predicate_mask
                keep = (d <= 1e-12) & (predicate in _COINCIDE)
            return cl[keep], pos[cr[keep]]
        order = np.argsort(cr, kind="stable")
        cl, cr = cl[order], cr[order]
        uniq, starts = np.unique(cr, return_index=True)
        ends = np.append(starts[1:], len(cr))
        keep = np.zeros(len(cl), dtype=bool)
        for u, s, e in zip(uniq, starts, ends):
            g = self.tree._geoms[pos[u]]
            keep[s:e] = point_predicate_mask(g, xs[cl[s:e]], ys[cl[s:e]],
                                             predicate, distance)
        return cl[keep], pos[cr[keep]]


class _Probe:
    """One Arrow batch as probe rows: a WKB column ``raw`` (object
    array of bytes / None) or lon/lat doubles.  ``xs``/``ys`` are NaN
    where a row is NULL or not a point; ``points`` says whether every
    non-NULL row is a point."""

    def __init__(self, raw=None, xs=None, ys=None):
        self.raw, self.points = raw, raw is None
        if raw is not None:
            xs, ys = K_wkb.decode_points(raw)
            self.points = bool(np.all(np.isnan(xs) == np.equal(raw, None)))
        self.xs, self.ys = xs, ys

    def geoms(self):
        """The decoded geometries the general-geometry paths need."""
        if self.raw is not None:
            return [SG._loads_safe(v) for v in self.raw]
        return [None if np.isnan(x) or np.isnan(y) else Geom.point(x, y)
                for x, y in zip(self.xs.tolist(), self.ys.tolist())]


def point_predicate_mask(g, px, py, predicate, distance=None):
    """Vectorized predicate mask of a point batch against ONE decoded
    geometry — the "prepare once per geometry" kernel (reference
    src/strtree.c:286 prepared-probe semantics) shared by the
    broadcast probe and the cell-join refine."""
    if predicate == "dwithin":
        return K_m.points_to_geom_dist(px, py, g) <= distance
    miss = np.zeros(len(px), dtype=bool)
    if predicate in ("contains", "covers", "contains_properly"):
        # a point covers g only if every vertex of g coincides with it
        # (vertices spread wider, or NaN, cannot all coincide)
        gv = K_m.vertices(g)
        return _coincide(px, py, gv).all(axis=1) \
            if np.ptp(gv, axis=0).max() <= 2e-12 else miss
    if g.type_id in (3, 6, 7) or g.rings or any(
            p.type_id in (3,) for p in g.parts):
        inside, boundary = K_p.points_in_polygon(px, py, g)
        if predicate == "intersects" or predicate == "covered_by":
            return inside | boundary
        if predicate == "within":
            return inside
        if predicate == "touches":
            return boundary
        return miss
    segs = K_m.segments(g)
    if len(segs):
        on_line = K_m.points_to_segments_dist(px, py, segs) <= 1e-12
        if predicate in ("intersects", "covered_by"):
            return on_line
        at_end = _coincide(px, py, K_p._line_boundary_points(g)).any(axis=1)
        if predicate == "within":
            return on_line & ~at_end
        return at_end if predicate == "touches" else miss
    # point tree geometry
    eq = _coincide(px, py, K_m.vertices(g)).any(axis=1)
    return eq if predicate in ("intersects", "within", "covered_by") else miss


def _coincide(px, py, v):
    """(points, vertices) mask: point within 1e-12 of vertex."""
    return np.hypot(px[:, None] - v[None, :, 0], py[:, None] - v[None, :, 1]) <= 1e-12


def probe_batch(tree: STRtree, wkbs, predicate=None, distance=None):
    """query_bulk over one batch of WKB geometries -> (row_pos,
    tree_item_index) arrays — the broadcast joins' per-batch probe on a
    bare tree.  Point batches go fully vectorized."""
    raw = np.asarray([SG._b(v) for v in wkbs], dtype=object)
    return _BroadcastSide(None, tree).query(_Probe(raw), predicate, distance)


# ---------------------------------------------------------------------------
# the one broadcast plan: every broadcast join and kNN runs through it
# ---------------------------------------------------------------------------

def _run_broadcast(left: DataFrame, side: _BroadcastSide, op, *, right_id,
                   geom=None, lonlat=None, keep=None, cell_res=None,
                   with_distance=False) -> DataFrame:
    """One ``mapInArrow`` over ``left`` with ``side`` broadcast; per
    Arrow batch, ``op(side, probe)`` -> (row, right id, distance|None)
    arrays.  Probes come from the WKB column ``geom`` (output: every
    left column) or the DOUBLE pair ``lonlat`` (output: the ``keep``
    columns).  Output columns are gathered with Arrow ``take`` — they
    never become pandas/Python objects — then [``cell`` at
    ``cell_res``] + ``right_id`` [+ ``distance``]."""
    if geom is not None:
        src, keep, probe = left, range(len(left.columns)), [left.columns.index(geom)]
    else:
        keep = keep or []
        src = left.select(*keep, *lonlat)
        keep, probe = range(len(keep)), [len(keep), len(keep) + 1]
    fields = [src.schema.fields[i] for i in keep]
    if cell_res is not None:
        fields.append(T.StructField("cell", T.LongType(), False))
    fields.append(T.StructField(right_id, T.LongType()))
    if with_distance:
        fields.append(T.StructField("distance", T.DoubleType()))
    out_schema = T.StructType(fields)
    bc = src.sparkSession.sparkContext.broadcast(side)

    def run(batches):
        import pyarrow as pa
        side_l = bc.value  # deserialized once per worker
        for b in batches:
            cols = [b.column(i).to_numpy(zero_copy_only=False) for i in probe]
            pr = _Probe(*cols) if len(cols) == 1 else _Probe(  # NULL -> NaN
                xs=cols[0].astype(np.float64, copy=False),
                ys=cols[1].astype(np.float64, copy=False))
            li, rids, dd = op(side_l, pr)
            take = pa.array(li, type=pa.int64())
            out = [b.column(i).take(take) for i in keep]
            if cell_res is not None:
                out.append(pa.array(K_cell.cell_of(pr.xs[li], pr.ys[li], cell_res),
                                    type=pa.int64()))
            out.append(pa.array(rids, type=pa.int64()))
            if with_distance:
                out.append(pa.array(dd, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(out, names=out_schema.fieldNames())

    return src.mapInArrow(run, schema=out_schema)


def _join_op(predicate, distance):
    def op(side, probe):
        li, ri = side.query(probe, predicate, distance)
        return li, side.ids[ri], None
    return op


def broadcast_spatial_join(left: DataFrame, right: DataFrame, *,
                           predicate: str = "intersects",
                           left_geom: str = "geom", right_geom: str = "geom",
                           right_id: str = "right_id",
                           distance: float | None = None,
                           max_right_rows: int | None = None) -> DataFrame:
    """Inner spatial join, right side broadcast as an STRtree.

    Output = all left columns + ``right_id``.  Join the result back to
    ``right`` (a broadcast hash join — it is small by construction) to
    attach more right columns."""
    _BroadcastSide.check_predicate(predicate, distance)
    side = _BroadcastSide.collect(right, "broadcast_spatial_join", right_id,
                                  right_geom, max_right_rows=max_right_rows)
    return _run_broadcast(left, side, _join_op(predicate, distance),
                          right_id=right_id, geom=left_geom)


def broadcast_lonlat_join(left: DataFrame, right: DataFrame, *,
                          lon: str = "lon", lat: str = "lat",
                          predicate: str = "intersects",
                          right_geom: str = "geom",
                          right_id: str = "right_id",
                          distance: float | None = None,
                          cell_res: int | None = None,
                          keep: list[str] | None = None,
                          max_right_rows: int | None = None,
                          right_lon: str | None = None,
                          right_lat: str | None = None) -> DataFrame:
    """Point-probe join straight from lon/lat DOUBLE columns — the
    minimal-data-movement plan for the pages pipeline: only the
    columns named in ``keep`` (+ lon/lat) cross the Python boundary,
    WKB encoding is skipped entirely, and the cell id is computed in
    the same crossing (``cell_res``).  Pairs are identical to
    ``broadcast_spatial_join`` over ``st_point(lon, lat)``.

    ``right_lon``/``right_lat`` (r6): when the RIGHT side is also
    points, collect its coordinate doubles instead of WKB — the
    broadcast then carries numpy arrays, not a list of Python geometry
    objects, which removes the per-query job that evaluated st_point
    and the 10k-object pickle from the driver path (guide §5: the
    driver should do almost no data work).

    Output: keep columns + [cell] + right_id.  At 10^12 rows this is
    the plan that matters: one Arrow roundtrip of ~16 bytes/row plus the
    keep columns."""
    _BroadcastSide.check_predicate(predicate, distance)
    side = _BroadcastSide.collect(right, "broadcast_lonlat_join", right_id,
                                  right_geom, right_lon, right_lat, max_right_rows)
    return _run_broadcast(left, side, _join_op(predicate, distance),
                          right_id=right_id, lonlat=(lon, lat), keep=keep,
                          cell_res=cell_res)


# ---------------------------------------------------------------------------
# two-phase cell equi-join
# ---------------------------------------------------------------------------

def cell_spatial_join(left: DataFrame, right: DataFrame, *,
                      predicate: str = "intersects",
                      left_geom: str = "geom", right_geom: str = "geom",
                      left_id: str = "left_id", right_id: str = "right_id",
                      res: int = 7, distance: float | None = None,
                      left_is_points: bool = False,
                      pattern: str | None = None) -> DataFrame:
    """Large✕large spatial join: coarse cell equi-join (Catalyst
    sort-merge; AQE skew split) + exact refine + pair dedup.

    ``distance`` (dwithin) expands the left cells by k rings with
    k = ceil(d / cell_height) — the cell-grid analogue of the
    reference's bbox expansion (src/strtree.c:1165-1188).

    ``predicate="relate_pattern"`` joins on a DE-9IM ``pattern``
    (reference predicates.py:975-1007 semantics).  The pattern MUST
    require an intersection — at least one of the II/IB/BI/BB slots in
    {T,0,1,2} — because cell-overlap candidate generation can only
    surface pairs whose geometries come near each other; a pattern
    satisfiable by disjoint pairs (e.g. ``FF*FF****``) is semantically
    a cross join and is rejected.  The refine runs the vectorized
    intersects gate first and evaluates the exact scalar DE-9IM matrix
    only on its survivors, so the scalar work is linear in the number
    of INTERSECTING pairs, not the candidate count.

    The candidate shuffle carries ONLY ids (+16 B of lon/lat doubles on
    the point path) — never WKB; geometries are equi-joined back by id
    after the candidate stage, and the refine decodes each right
    geometry ONCE per group (the broadcast path's per-geometry
    "prepare" trick) instead of re-parsing WKB per candidate pair.
    Pair dedup runs on the id-only frame (and, for exploded covers,
    again after the selective refine), so no full-width exchange ever
    happens.

    ``left_is_points=True`` is an opt-in fast path (single-cell
    assignment, 16 B lon/lat carried through the candidate shuffle,
    vectorized point refine) that is only correct when EVERY left
    geometry is a point — the general default handles any geometry
    (a polygon left under the point path would silently yield NaN
    coordinates and drop rows, so correctness must be the default)."""
    if predicate == "relate_pattern":
        if left_is_points:
            raise ValueError("relate_pattern uses the general-geometry "
                             "refine; call with left_is_points=False")
        _check_join_pattern(pattern)
    elif pattern is not None:
        raise ValueError("pattern is only valid with predicate='relate_pattern'")
    id_fields = [T.StructField("_lid", left.schema[left_id].dataType),
                 T.StructField("_rid", right.schema[right_id].dataType)]
    rg = right.select(F.col(right_id).alias("_rid"),
                      F.col(right_geom).alias("_rgeom"))
    r = right.select(F.col(right_id).alias("_rid"),
                     F.explode(SG.st_cell_cover(right[right_geom], res)).alias("_cell"))

    if left_is_points:
        if distance is None:
            # points have exactly one cell: no array, no explode — one UDF
            l = left.select(F.col(left_id).alias("_lid"),
                            SG.st_x(left[left_geom]).alias("_lx"),
                            SG.st_y(left[left_geom]).alias("_ly"),
                            SG.st_cell(left[left_geom], res).alias("_cell"))
        else:
            l = left.select(F.col(left_id).alias("_lid"),
                            SG.st_x(left[left_geom]).alias("_lx"),
                            SG.st_y(left[left_geom]).alias("_ly"),
                            F.explode(_left_cells(left[left_geom], res, distance,
                                                  True)).alias("_cell"))
        cand = l.join(r, "_cell").select("_lid", "_rid", "_lx", "_ly")
        if distance is not None:
            cand = cand.dropDuplicates(["_lid", "_rid"])
        joined = cand.join(rg, "_rid")
        refine = _cell_refine_points(predicate, distance,
                                     T.StructType(id_fields))
        out = joined.mapInPandas(refine, schema=T.StructType(id_fields))
    else:
        lcell = F.explode(_left_cells(left[left_geom], res, distance,
                                      False)).alias("_cell")
        l = left.select(F.col(left_id).alias("_lid"), lcell)
        cand = (l.join(r, "_cell").select("_lid", "_rid")
                .dropDuplicates(["_lid", "_rid"]))
        lg = left.select(F.col(left_id).alias("_lid"),
                         F.col(left_geom).alias("_lgeom"))
        joined = cand.join(rg, "_rid").join(lg, "_lid")
        refine = _cell_refine_geoms(predicate, distance,
                                    T.StructType(id_fields), pattern)
        out = joined.mapInPandas(refine, schema=T.StructType(id_fields))
    return out.select(F.col("_lid").alias(left_id),
                      F.col("_rid").alias(right_id))


def _cell_refine_points(predicate, distance, schema):
    """Grouped refine for point✕geometry candidates: decode each right
    geometry once per batch group, one vectorized kernel call over all
    its candidate points."""
    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            px = pdf["_lx"].to_numpy(dtype=np.float64)
            py = pdf["_ly"].to_numpy(dtype=np.float64)
            raw = pdf["_rgeom"].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            for _rid, idx in pdf.groupby("_rid", sort=False).indices.items():
                g = SG._loads_safe(raw[idx[0]])
                if g is None or g.is_empty:
                    continue
                keep[idx] = point_predicate_mask(g, px[idx], py[idx],
                                                 predicate, distance)
            yield pdf.loc[keep, ["_lid", "_rid"]]
    return run


_PATTERN_INTERSECTION_SLOTS = (0, 1, 3, 4)  # II, IB, BI, BB


def _check_join_pattern(pattern):
    """A DE-9IM join pattern must REQUIRE an intersection (some
    interior/boundary slot in {T,0,1,2}) — only then is cell-overlap
    candidate generation complete for it."""
    if pattern is None or len(pattern) != 9 \
            or any(c not in "TF*012tf" for c in pattern):
        raise ValueError(f"invalid DE-9IM pattern {pattern!r}: need 9 "
                         "characters from {T,F,*,0,1,2}")
    if not any(pattern[i] in "T012" for i in _PATTERN_INTERSECTION_SLOTS):
        raise ValueError(
            f"pattern {pattern!r} does not require the geometries to "
            "intersect (all of II/IB/BI/BB are F or *); such a join is "
            "satisfiable by arbitrarily distant pairs and cannot be "
            "answered by cell-overlap candidate generation")


def _cell_refine_geoms(predicate, distance, schema, pattern=None):
    """Grouped refine for general geometry candidates.

    Each DISTINCT left geometry is decoded + prepared (vertex/segment
    stacks) once per Arrow batch; each right geometry once per group.
    Candidates pass a vectorized bbox prefilter, then `intersects` /
    `dwithin` go through the many-vs-one batch kernel
    (kernel.predicates.batch_predicate_one — owner-block vectorized, no
    per-pair Python); other predicates fall back to the exact scalar
    kernels over the bbox survivors only.  ``relate_pattern`` gates on
    the vectorized intersects pass (sound because join patterns must
    require intersection, _check_join_pattern) and computes the exact
    DE-9IM matrix only for intersecting pairs."""
    if predicate == "relate_pattern":
        from .kernel import relate as K_rel
        fn = lambda a, g: K_rel.relate_pattern(a, g, pattern)  # noqa: E731
    else:
        fn = K_p.dwithin if predicate == "dwithin" else PREDICATES[predicate]
    pad = float(distance) if predicate == "dwithin" else 0.0

    def run(batches):
        for pdf in batches:
            # null _lid would factorize to code -1 and corrupt the
            # first[]-gather below (ADVICE r3) — such rows can never
            # satisfy a predicate anyway, drop them up front
            pdf = pdf[pdf["_lid"].notna()]
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            rraw = pdf["_rgeom"].to_numpy()
            lraw = pdf["_lgeom"].to_numpy()
            codes, uniq_rows = pd.factorize(pdf["_lid"].to_numpy())
            first = np.zeros(len(uniq_rows), dtype=np.int64)
            seen, fidx = np.unique(codes, return_index=True)
            first[seen] = fidx
            lgeoms = [SG._loads_safe(lraw[i]) for i in first]
            prep = K_p.prepare_batch_lefts(lgeoms)
            lb = prep["bounds"]
            keep = np.zeros(len(pdf), dtype=bool)
            for _rid, idx in pdf.groupby("_rid", sort=False).indices.items():
                g = SG._loads_safe(rraw[idx[0]])
                if g is None or g.is_empty:
                    continue
                gc = codes[idx]
                gb = g.bounds()
                if np.isnan(gb[0]):
                    continue
                b = lb[gc]
                alive = ~(np.isnan(b[:, 0])
                          | (b[:, 2] + pad < gb[0]) | (gb[2] + pad < b[:, 0])
                          | (b[:, 3] + pad < gb[1]) | (gb[3] + pad < b[:, 1]))
                if not alive.any():
                    continue
                sel = gc[alive]
                if predicate == "relate_pattern":
                    # batch intersects gate: a join pattern requires
                    # intersection, so only survivors can match
                    hits = K_p.batch_predicate_one(prep, sel, g,
                                                   "intersects")
                    mask = np.zeros(len(sel), dtype=bool)
                    for i in np.nonzero(hits)[0]:
                        a = lgeoms[sel[i]]
                        if a is not None and not a.is_empty:
                            mask[i] = fn(a, g)
                else:
                    mask = K_p.batch_predicate_one(prep, sel, g, predicate,
                                                   distance)
                rows = idx[alive]
                if mask is not None:
                    keep[rows] = mask
                else:
                    for j, c in zip(rows, sel):
                        a = lgeoms[c]
                        if a is None or a.is_empty:
                            continue
                        keep[j] = fn(a, g, distance) \
                            if predicate == "dwithin" else fn(a, g)
            yield pdf.loc[keep, ["_lid", "_rid"]]
    return run


def _left_cells(geom_col, res, distance, is_points):
    if distance is None:
        if is_points:
            return F.array(SG.st_cell(geom_col, res))
        return SG.st_cell_cover(geom_col, res)
    # dwithin: expand by k rings
    h = 180.0 / (1 << res)
    k = int(np.ceil(distance / h))

    import pandas as pd  # noqa: F811
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.ArrayType(T.LongType()))
    def _expand(b: pd.Series) -> pd.Series:
        # per-geometry cover (decode is inherently per-row), then ONE
        # batch-vectorized k-ring over the flattened cover cells (r4 —
        # no per-cell Python k_ring loop)
        covers, rows = [], []
        out: list = [None] * len(b)
        for i, v in enumerate(b):
            g = SG._loads_safe(v) if v is not None else None
            if g is None:
                continue
            base = K_cell.cover_to_res(K_cell.cover(g, res), res)
            if len(base):
                covers.append(np.asarray(base, np.int64))
                rows.append(np.full(len(base), i, np.int64))
        if covers:
            flat = np.concatenate(covers)
            rix = np.concatenate(rows)
            ring, valid = K_cell.k_ring_batch(flat, k)
            counts = np.bincount(rix, minlength=len(b)) * ring.shape[1]
            ring_rows = np.repeat(rix, ring.shape[1])
            order = np.argsort(ring_rows, kind="stable")
            rflat = ring.ravel()[order]
            vflat = valid.ravel()[order]
            bounds = np.cumsum(counts)[:-1]
            for i, (rs, vs) in enumerate(zip(np.split(rflat, bounds),
                                             np.split(vflat, bounds))):
                if len(rs):
                    out[i] = np.unique(rs[vs])
        return pd.Series(out, dtype=object)

    return _expand(geom_col)


def spatial_join(left: DataFrame, right: DataFrame, *,
                 predicate: str = "intersects",
                 left_geom: str = "geom", right_geom: str = "geom",
                 left_id: str = "left_id", right_id: str = "right_id",
                 strategy: str = "auto", res: int = 7,
                 distance: float | None = None,
                 left_is_points: bool = False,
                 broadcast_threshold: int = 200_000) -> DataFrame:
    """Plan chooser: broadcast STRtree when the right side is small
    (counted once — at 100 TB the layer cardinality is metadata),
    else the two-phase cell join."""
    if strategy not in ("auto", "broadcast", "cell"):
        raise ValueError(f"unknown strategy {strategy!r}; one of "
                         "'auto', 'broadcast', 'cell'")
    _BroadcastSide.check_predicate(predicate, distance)
    if strategy == "auto":
        # limit-bounded probe: answers "is it small?" without a full
        # count action over a potentially huge right side
        n_probe = right.limit(broadcast_threshold + 1).count()
        strategy = "broadcast" if n_probe <= broadcast_threshold else "cell"
    if strategy == "broadcast":
        joined = broadcast_spatial_join(
            left, right, predicate=predicate, left_geom=left_geom,
            right_geom=right_geom, right_id=right_id, distance=distance)
        return joined.select(F.col(left_id), F.col(right_id))
    return cell_spatial_join(
        left, right, predicate=predicate, left_geom=left_geom,
        right_geom=right_geom, left_id=left_id, right_id=right_id,
        res=res, distance=distance, left_is_points=left_is_points)
