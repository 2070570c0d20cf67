"""Spatial-join tests through Spark: the reference's query_bulk golden
outputs driven as DataFrame joins (SURVEY.md §5 step 2), plus
broadcast ≡ cell-join equivalence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_geo import functions as SG
from spark_geo import join as SJ
from spark_geo import knn as SK
from spark_geo.kernel import construct as K_con
from spark_geo.kernel import wkb as K_wkb
from spark_geo.kernel.geom import Geom


@pytest.fixture(scope="module")
def point_tree_df(spark):
    # reference point_tree fixture: POINT (i i), i = 0..9
    rows = [(i, K_wkb.dumps(Geom.point(i, i))) for i in range(10)]
    return spark.createDataFrame(rows, "right_id long, geom binary")


@pytest.fixture(scope="module")
def probe_boxes_df(spark):
    rows = [(0, K_wkb.dumps(Geom.box(2, 2, 4, 4))),
            (1, K_wkb.dumps(Geom.box(5, 5, 6, 6)))]
    return spark.createDataFrame(rows, "left_id long, geom binary")


def _pairs(df, l="left_id", r="right_id"):
    return sorted((row[l], row[r]) for row in df.collect())


def test_broadcast_join_golden_boxes(spark, probe_boxes_df, point_tree_df):
    # reference strtree.py:183-196: query_bulk([box(2,2,4,4), box(5,5,6,6)])
    # -> [[0,0,0,1,1],[2,3,4,5,6]]
    out = SJ.broadcast_spatial_join(probe_boxes_df, point_tree_df,
                                    predicate="intersects",
                                    right_id="right_id")
    assert _pairs(out) == [(0, 2), (0, 3), (0, 4), (1, 5), (1, 6)]


def test_broadcast_join_contains_golden(spark, probe_boxes_df, point_tree_df):
    out = SJ.broadcast_spatial_join(probe_boxes_df, point_tree_df,
                                    predicate="contains", right_id="right_id")
    assert _pairs(out) == [(0, 3)]  # boundary points excluded


def test_broadcast_join_points_left_fast_path(spark, point_tree_df):
    # points as the (big) left side vs polygon layer: vectorized PIP path
    pts = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(6)], "left_id long, lon double, lat double"
    ).withColumn("geom", SG.st_point("lon", "lat"))
    boxes = spark.createDataFrame(
        [(0, K_wkb.dumps(Geom.box(2, 2, 4, 4)))], "right_id long, geom binary")
    within = SJ.broadcast_spatial_join(pts, boxes, predicate="within",
                                       left_geom="geom", right_id="right_id")
    assert _pairs(within) == [(3, 0)]
    inter = SJ.broadcast_spatial_join(pts, boxes, predicate="intersects",
                                      left_geom="geom", right_id="right_id")
    assert _pairs(inter) == [(2, 0), (3, 0), (4, 0)]
    touch = SJ.broadcast_spatial_join(pts, boxes, predicate="touches",
                                      left_geom="geom", right_id="right_id")
    assert _pairs(touch) == [(2, 0), (4, 0)]


def test_broadcast_join_dwithin(spark, point_tree_df):
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "left_id long, lon double, lat double") \
        .withColumn("geom", SG.st_point("lon", "lat"))
    out = SJ.broadcast_spatial_join(pts, point_tree_df, predicate="dwithin",
                                    distance=1.0, right_id="right_id")
    # reference strtree.py:100-107: -> tree items 0 and 1
    assert _pairs(out) == [(0, 0), (0, 1)]


def test_broadcast_join_drops_null_and_empty(spark, point_tree_df):
    from spark_geo.kernel.geom import POINT
    pts = spark.createDataFrame(
        [(0, K_wkb.dumps(Geom.point(3, 3))), (1, None),
         (2, K_wkb.dumps(Geom(POINT)))], "left_id long, geom binary")
    out = SJ.broadcast_spatial_join(pts, point_tree_df, predicate="intersects",
                                    right_id="right_id")
    assert _pairs(out) == [(0, 3)]


def test_broadcast_join_poly_tree(spark):
    # buffered-circle tree (reference test_strtree.py poly fixture)
    r = np.sqrt(2) / 2 + 1e-9
    polys = [(i, K_wkb.dumps(K_con.buffer(Geom.point(i, i), r, quadsegs=32)))
             for i in range(10)]
    layer = spark.createDataFrame(polys, "right_id long, geom binary")
    pts = spark.createDataFrame([(0, 3.0, 3.0), (1, 0.5, 0.5)],
                                "left_id long, lon double, lat double") \
        .withColumn("geom", SG.st_point("lon", "lat"))
    out = SJ.broadcast_spatial_join(pts, layer, predicate="intersects",
                                    left_geom="geom", right_id="right_id")
    # (0.5, 0.5) is within r of both circles 0 and 1
    assert _pairs(out) == [(0, 3), (1, 0), (1, 1)]


def test_cell_join_equals_broadcast(spark):
    # 500 deterministic points vs 12 boxes: the two physical plans must
    # produce identical logical results
    pts = spark.range(500).select(
        F.col("id").alias("left_id"),
        (F.pmod(F.col("id") * 37 + 11, F.lit(3600)) / 10.0 - 180.0).alias("lon"),
        (F.pmod(F.col("id") * 53 + 29, F.lit(1800)) / 10.0 - 90.0).alias("lat"),
    ).withColumn("geom", SG.st_point("lon", "lat"))
    boxes = [(j, K_wkb.dumps(Geom.box(-180 + j * 30, -90 + (j % 6) * 30,
                                      -180 + j * 30 + 25, -90 + (j % 6) * 30 + 25)))
             for j in range(12)]
    layer = spark.createDataFrame(boxes, "right_id long, geom binary")
    b = SJ.broadcast_spatial_join(pts, layer, predicate="intersects",
                                  left_geom="geom", right_id="right_id")
    c = SJ.cell_spatial_join(pts, layer, predicate="intersects",
                             left_geom="geom", right_geom="geom",
                             left_id="left_id", right_id="right_id", res=5,
                             left_is_points=True)
    assert _pairs(b.select("left_id", "right_id")) == _pairs(c)


def test_cell_join_dwithin_equals_broadcast(spark, point_tree_df):
    pts = spark.createDataFrame([(0, 0.5, 0.5), (1, 7.2, 7.2)],
                                "left_id long, lon double, lat double") \
        .withColumn("geom", SG.st_point("lon", "lat"))
    b = SJ.broadcast_spatial_join(pts, point_tree_df, predicate="dwithin",
                                  distance=1.0, right_id="right_id")
    c = SJ.cell_spatial_join(pts, point_tree_df, predicate="dwithin",
                             distance=1.0, left_id="left_id",
                             right_id="right_id", res=6, left_is_points=True)
    assert _pairs(b.select("left_id", "right_id")) == _pairs(c)


# -- kNN ----------------------------------------------------------------

def test_nearest_all_ties(spark, point_tree_df):
    pts = spark.createDataFrame([(0, 0.5, 0.5), (1, 1.1, 1.1)],
                                "left_id long, lon double, lat double") \
        .withColumn("geom", SG.st_point("lon", "lat"))
    out = SK.broadcast_nearest_all(pts, point_tree_df, left_geom="geom",
                                   right_id="right_id")
    got = sorted((r["left_id"], r["right_id"], round(r["distance"], 9))
                 for r in out.collect())
    d = round(float(np.sqrt(2) / 2), 9)
    assert got == [(0, 0, d), (0, 1, d), (1, 1, round(np.hypot(.1, .1), 9))]


def test_nearest_deterministic_tiebreak(spark, point_tree_df):
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "left_id long, lon double, lat double") \
        .withColumn("geom", SG.st_point("lon", "lat"))
    out = SK.nearest(pts, point_tree_df, left_geom="geom", right_id="right_id")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["right_id"] == 0


def test_nearest_all_max_distance(spark, point_tree_df):
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "left_id long, lon double, lat double") \
        .withColumn("geom", SG.st_point("lon", "lat"))
    out = SK.broadcast_nearest_all(pts, point_tree_df, left_geom="geom",
                                   right_id="right_id", max_distance=0.1)
    assert out.count() == 0


def test_cell_nearest_all_equals_broadcast(spark):
    pts = spark.range(40).select(
        F.col("id").alias("left_id"),
        (F.pmod(F.col("id") * 17 + 5, F.lit(200)) / 10.0).alias("lon"),
        (F.pmod(F.col("id") * 23 + 9, F.lit(160)) / 10.0).alias("lat"),
    ).withColumn("geom", SG.st_point("lon", "lat"))
    targets = spark.range(15).select(
        F.col("id").alias("right_id"),
        (F.pmod(F.col("id") * 41 + 3, F.lit(200)) / 10.0).alias("lon"),
        (F.pmod(F.col("id") * 31 + 7, F.lit(160)) / 10.0).alias("lat"),
    ).withColumn("geom", SG.st_point("lon", "lat"))
    b = SK.broadcast_nearest_all(pts, targets, left_geom="geom", right_id="right_id")
    c = SK.cell_nearest_all(pts, targets, left_geom="geom", right_geom="geom",
                            left_id="left_id", right_id="right_id",
                            res=5, max_rings=20)
    bp = sorted((r["left_id"], r["right_id"]) for r in b.collect())
    cp = sorted((r["left_id"], r["right_id"]) for r in c.collect())
    assert bp == cp


def test_cell_join_geoms_equals_broadcast(spark):
    """General (non-point) left geometries through the vectorized
    many-vs-one refine: boxes, lines and points as WKB lefts vs a box
    layer, intersects + dwithin, cell plan ≡ broadcast plan."""
    lefts = []
    for i in range(120):
        cx = (i * 37 % 360) - 180.0
        cy = (i * 53 % 170) - 85.0
        kind = i % 3
        if kind == 0:
            g = Geom.box(cx, cy, cx + 8, cy + 6)
        elif kind == 1:
            g = Geom.linestring([(cx, cy), (cx + 10, cy + 4), (cx + 3, cy + 9)])
        else:
            g = Geom.point(cx, cy)
        lefts.append((i, K_wkb.dumps(g)))
    left = spark.createDataFrame(lefts, "left_id long, geom binary")
    boxes = [(j, K_wkb.dumps(Geom.box(-180 + j * 30, -90 + (j % 6) * 30,
                                      -180 + j * 30 + 25, -90 + (j % 6) * 30 + 25)))
             for j in range(12)]
    layer = spark.createDataFrame(boxes, "right_id long, geom binary")
    for pred, dist in [("intersects", None), ("dwithin", 3.0)]:
        b = SJ.broadcast_spatial_join(left, layer, predicate=pred,
                                      distance=dist, right_id="right_id")
        c = SJ.cell_spatial_join(left, layer, predicate=pred, distance=dist,
                                 left_id="left_id", right_id="right_id",
                                 res=4, left_is_points=False)
        assert _pairs(b.select("left_id", "right_id")) == _pairs(c), pred


def test_cell_join_default_safe_for_polygons(spark):
    """r4: the DEFAULT cell_spatial_join path (no left_is_points flag)
    must be correct for polygon lefts — the point fast path is opt-in
    (a polygon under it silently dropped pairs)."""
    lefts = [(i, K_wkb.dumps(Geom.box(-30 + i * 7.0, -20 + i * 5.0,
                                      -27 + i * 7.0, -17 + i * 5.0)))
             for i in range(8)]
    left = spark.createDataFrame(lefts, "left_id long, geom binary")
    boxes = [(j, K_wkb.dumps(Geom.box(-32 + j * 11.0, -22 + j * 8.0,
                                      -28 + j * 11.0, -18 + j * 8.0)))
             for j in range(6)]
    layer = spark.createDataFrame(boxes, "right_id long, geom binary")
    b = SJ.broadcast_spatial_join(left, layer, predicate="intersects",
                                  right_id="right_id")
    c = SJ.cell_spatial_join(left, layer, predicate="intersects",
                             left_id="left_id", right_id="right_id", res=5)
    s = SJ.spatial_join(left, layer, predicate="intersects",
                        left_id="left_id", right_id="right_id",
                        strategy="cell", res=5)
    want = _pairs(b.select("left_id", "right_id"))
    assert _pairs(c) == want
    assert _pairs(s) == want


def test_cell_join_shuffles_ids_only(spark):
    """Scale property (r4): the two-phase cell join's only hash
    exchange carries the (_lid, _rid) id pair — WKB geometry columns
    never cross a shuffle (they rejoin via broadcast by id)."""
    import re
    lefts = [(i, K_wkb.dumps(Geom.box(i * 5.0, 0, i * 5.0 + 4, 4)))
             for i in range(10)]
    left = spark.createDataFrame(lefts, "left_id long, geom binary")
    layer = spark.createDataFrame(
        [(7, K_wkb.dumps(Geom.box(0, 0, 50, 50)))],
        "right_id long, geom binary")
    df = SJ.cell_spatial_join(left, layer, predicate="within",
                              left_id="left_id", right_id="right_id",
                              res=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if re.search(r"\bExchange hashpartitioning", line):
            assert "geom" not in line and "binary" not in line, line


def test_cell_join_geoms_scalar_fallback_predicate(spark):
    """Predicates without a batch path (within) still refine exactly
    via the scalar kernels over bbox survivors."""
    lefts = [(0, K_wkb.dumps(Geom.box(1, 1, 3, 3))),     # inside
             (1, K_wkb.dumps(Geom.box(-5, -5, 40, 40))),  # covers layer box
             (2, K_wkb.dumps(Geom.box(50, 50, 60, 60)))]  # disjoint
    left = spark.createDataFrame(lefts, "left_id long, geom binary")
    layer = spark.createDataFrame([(7, K_wkb.dumps(Geom.box(0, 0, 30, 30)))],
                                  "right_id long, geom binary")
    c = SJ.cell_spatial_join(left, layer, predicate="within",
                             left_id="left_id", right_id="right_id",
                             res=4, left_is_points=False)
    assert _pairs(c) == [(0, 7)]


def test_cell_nearest_all_geoms_equals_broadcast(spark):
    """General-geometry distributed nearest (cover-seeded ring
    expansion) ≡ broadcast STRtree nearest_all on a mixed fixture of
    boxes, lines and points (reference nearest_all accepts any
    geometry, strtree.py:278)."""
    lefts = []
    for i in range(40):
        cx = (i * 37 % 80) - 40.0
        cy = (i * 53 % 60) - 30.0
        if i % 3 == 0:
            g = Geom.box(cx, cy, cx + 3, cy + 2)
        elif i % 3 == 1:
            g = Geom.linestring([(cx, cy), (cx + 4, cy + 1.5)])
        else:
            g = Geom.point(cx, cy)
        lefts.append((i, K_wkb.dumps(g)))
    rights = []
    for j in range(15):
        cx = (j * 61 % 80) - 40.0 + 0.375
        cy = (j * 29 % 60) - 30.0 + 0.375
        g = Geom.box(cx, cy, cx + 2, cy + 2) if j % 2 else \
            Geom.linestring([(cx, cy), (cx + 3, cy - 1)])
        rights.append((j, K_wkb.dumps(g)))
    left = spark.createDataFrame(lefts, "left_id long, geom binary")
    right = spark.createDataFrame(rights, "right_id long, geom binary")
    b = SK.broadcast_nearest_all(left, right, right_id="right_id")
    c = SK.cell_nearest_all(left, right, res=5, max_rings=40,
                            assume_points=False)
    bp = sorted((r["left_id"], r["right_id"], round(r["distance"], 9))
                for r in b.collect())
    cp = sorted((r["left_id"], r["right_id"], round(r["distance"], 9))
                for r in c.collect())
    assert bp == cp


def test_cell_join_relate_pattern(spark):
    """r5: relate_pattern as a cell-join predicate.  Mixed box/line
    lefts vs a box layer with three patterns (area-overlaps, the
    generic 'interiors intersect' gate pattern, and crosses-for-lines);
    cell plan ≡ brute-force scalar relate_pattern over all pairs."""
    from spark_geo.kernel import relate as K_rel
    lefts = []
    for i in range(90):
        cx = (i * 37 % 360) - 180.0
        cy = (i * 53 % 170) - 85.0
        if i % 2 == 0:
            g = Geom.box(cx, cy, cx + 8, cy + 6)
        else:
            g = Geom.linestring([(cx - 2, cy - 1), (cx + 9, cy + 5)])
        lefts.append((i, K_wkb.dumps(g)))
    rights = [(j, K_wkb.dumps(Geom.box(-180 + j * 30, -90 + (j % 6) * 30,
                                       -180 + j * 30 + 25,
                                       -90 + (j % 6) * 30 + 25)))
              for j in range(12)]
    left = spark.createDataFrame(lefts, "left_id long, geom binary")
    layer = spark.createDataFrame(rights, "right_id long, geom binary")
    lg = {i: K_wkb.loads(w) for i, w in lefts}
    rg = {j: K_wkb.loads(w) for j, w in rights}
    for pat in ["T*T***T**", "T********", "0********"]:
        got = _pairs(SJ.cell_spatial_join(
            left, layer, predicate="relate_pattern", pattern=pat,
            left_id="left_id", right_id="right_id", res=4))
        want = sorted((a, b) for a in lg for b in rg
                      if K_rel.relate_pattern(lg[a], rg[b], pat))
        assert got == want, pat


def test_cell_join_relate_pattern_rejects_nonintersecting(spark):
    """A pattern satisfiable by disjoint pairs (all II/IB/BI/BB slots
    F or *) is a cross join — candidate generation by cell overlap
    cannot answer it, so the join must refuse."""
    df = spark.createDataFrame([(0, K_wkb.dumps(Geom.point(0, 0)))],
                               "left_id long, geom binary")
    with pytest.raises(ValueError, match="does not require"):
        SJ.cell_spatial_join(df, df, predicate="relate_pattern",
                             pattern="FF*FF****", right_id="left_id")
    with pytest.raises(ValueError, match="invalid DE-9IM"):
        SJ.cell_spatial_join(df, df, predicate="relate_pattern",
                             pattern="T*T", right_id="left_id")
    with pytest.raises(ValueError):
        SJ.cell_spatial_join(df, df, predicate="relate_pattern",
                             pattern=None, right_id="left_id")
    with pytest.raises(ValueError, match="left_is_points"):
        SJ.cell_spatial_join(df, df, predicate="relate_pattern",
                             pattern="T********", left_is_points=True,
                             right_id="left_id")
    with pytest.raises(ValueError, match="only valid"):
        SJ.cell_spatial_join(df, df, predicate="intersects",
                             pattern="T********", right_id="left_id")


def test_broadcast_right_side_guard(spark):
    """VERDICT r5 item 4: the direct broadcast APIs must refuse an
    oversized right side with an actionable error, not driver-OOM."""
    import pytest
    from spark_geo import join as SJ, knn as SK
    from spark_geo import functions as SG
    from pyspark.sql import functions as F
    big = (spark.range(0, 500)
           .select(F.col("id").alias("right_id"),
                   SG.st_point(F.rand(seed=1) * 10,
                               F.rand(seed=2) * 10).alias("geom")))
    left = spark.range(0, 4).select(
        F.col("id").alias("left_id"),
        SG.st_point(F.lit(1.0), F.lit(2.0)).alias("point"))
    with pytest.raises(ValueError, match="right side exceeds"):
        SJ.broadcast_spatial_join(left, big, predicate="intersects",
                                  left_geom="point", right_id="right_id",
                                  max_right_rows=100)
    with pytest.raises(ValueError, match="right side exceeds"):
        SJ.broadcast_lonlat_join(
            left.select("left_id", F.lit(1.0).alias("lon"),
                        F.lit(2.0).alias("lat")),
            big, predicate="intersects", right_id="right_id",
            keep=["left_id"], max_right_rows=100)
    with pytest.raises(ValueError, match="right side exceeds"):
        SK.broadcast_nearest_all(left, big, left_geom="point",
                                 right_id="right_id", max_right_rows=100)
    with pytest.raises(ValueError, match="right side exceeds"):
        SK.nearest_all_lonlat(
            left.select("left_id", F.lit(1.0).alias("lon"),
                        F.lit(2.0).alias("lat")),
            big, right_id="right_id", keep=["left_id"],
            max_right_rows=100)
    # within the cap: works
    n = SJ.broadcast_spatial_join(left, big, predicate="intersects",
                                  left_geom="point",
                                  right_id="right_id").count()
    assert n >= 0


def test_right_lonlat_parity_with_null_rows(spark):
    """r6: the right_lon/right_lat collect path must produce the same
    pairs as the WKB right side when the right table contains NULL and
    partial coordinates."""
    from spark_geo import join as SJ, knn as SK
    from spark_geo import functions as SG
    from pyspark.sql import functions as F
    rows = [(0, 1.0, 1.0), (1, None, 2.0), (2, 3.0, None),
            (3, None, None), (4, 2.0, 2.0), (5, 1.5, 1.2)]
    right = spark.createDataFrame(rows, "right_id long, lon double, lat double")
    right_wkb = right.select("right_id",
                             SG.st_point("lon", "lat").alias("geom"))
    left = spark.createDataFrame(
        [(10, 1.1, 1.1), (11, 2.0, 2.0), (12, 8.0, 8.0)],
        "left_id long, lon double, lat double")
    a = sorted((r[0], r[1]) for r in SJ.broadcast_lonlat_join(
        left, right, lon="lon", lat="lat", predicate="dwithin",
        distance=1.0, right_id="right_id", keep=["left_id"],
        right_lon="lon", right_lat="lat").collect())
    b = sorted((r[0], r[1]) for r in SJ.broadcast_lonlat_join(
        left, right_wkb, lon="lon", lat="lat", predicate="dwithin",
        distance=1.0, right_id="right_id", keep=["left_id"]).collect())
    assert a == b
    a = sorted(tuple(r) for r in SK.nearest_lonlat(
        left, right, lon="lon", lat="lat", right_id="right_id",
        keep=["left_id"], right_lon="lon", right_lat="lat")
        .select("left_id", "right_id", "distance").collect())
    b = sorted(tuple(r) for r in SK.nearest_lonlat(
        left, right_wkb, lon="lon", lat="lat", right_id="right_id",
        keep=["left_id"]).select("left_id", "right_id",
                                 "distance").collect())
    assert a == b


def _knn_fixture():
    """Clustered right points with exact duplicates (ties), and left
    points among them plus hand-placed probes at res 5 (cells 11.25 x
    5.625 degrees)."""
    rng = np.random.default_rng(7)
    rx = np.concatenate([rng.normal(12, 3, 40), rng.normal(-50, 2, 20)])
    ry = np.concatenate([rng.normal(8, 3, 40), rng.normal(-30, 2, 20)])
    rx = np.concatenate([rx, rx[:10], [-178.0, 134.05, 100.3]])
    ry = np.concatenate([ry, ry[:10], [40.3, 40.3, 62.8]])
    lx = np.concatenate([rng.uniform(-70, 40, 60), [
        rx[3],    # on a duplicated right point: distance-0 ties
        100.3,    # nearest (22.5 away) is 4 rings out, another is 3 out
        -170.0,   # no right within 3 rings
        -100.0,   # no right within 3 rings
        178.0,    # within 3 rings only across the antimeridian, and
                  # its nearest (43.95 away) is 4 rings out
    ]])
    ly = np.concatenate([rng.uniform(-45, 30, 60), [ry[3], 40.3, 80.0, -80.0, 40.3]])
    return lx, ly, rx, ry


def _knn_brute(lx, ly, rx, ry, res, rings, md):
    """All-ties nearest of every left row with some right within
    ``rings`` wrapped Chebyshev cells (and within ``md``)."""
    n = 1 << res
    lix = np.clip(np.floor((lx + 180) / 360 * n), 0, n - 1)
    liy = np.clip(np.floor((ly + 90) / 180 * n), 0, n - 1)
    rix = np.clip(np.floor((rx + 180) / 360 * n), 0, n - 1)
    riy = np.clip(np.floor((ry + 90) / 180 * n), 0, n - 1)
    d = np.hypot(lx[:, None] - rx[None], ly[:, None] - ry[None])
    dx = np.abs(lix[:, None] - rix[None])
    cheb = np.maximum(np.minimum(dx, n - dx), np.abs(liy[:, None] - riy[None]))
    ok = d <= md if md is not None else np.ones(d.shape, bool)
    dmin = np.where(ok, d, np.inf).min(axis=1)
    answered = ((cheb <= rings) & ok).any(axis=1)
    li, ri = np.nonzero(answered[:, None] & ok & (d == dmin[:, None]))
    return li, ri, d[li, ri]


@pytest.mark.parametrize("assume_points", [True, False])
@pytest.mark.parametrize("rings,md,cap", [
    (3, None, None),
    (3, 30.0, None),    # ring limit tighter than max_distance
    (16, 4.0, None),
    (3, None, 5),       # representative table over the cap: coarser cells
    (3, 30.0, 5),
])
def test_cell_nearest_all_matches_brute_force(spark, monkeypatch,
                                              assume_points, rings, md, cap):
    """cell_nearest_all ≡ numpy brute force on both paths: rows with no
    right within max_rings are omitted, a row whose nearest lies beyond
    the ring limit still gets it when another right is inside, ties and
    max_distance are exact, a probe at lon 1e300 gets a defined answer,
    and the call leaves no persisted RDD."""
    if cap is not None:
        monkeypatch.setattr(SJ, "BROADCAST_RIGHT_LIMIT", cap)
    lx, ly, rx, ry = _knn_fixture()
    if assume_points:
        # far outside the world: clipped to the edge cell (a geometry
        # there has no cover cell); every right ties at distance 1e300
        lx, ly = np.append(lx, 1e300), np.append(ly, 40.3)
    lids = np.arange(len(lx)) * 2 + 1
    rids = np.arange(len(rx)) * 3 + 5
    left = spark.createDataFrame(
        [(int(i), K_wkb.dumps(Geom.point(x, y)))
         for i, x, y in zip(lids, lx, ly)], "left_id long, geom binary")
    right = spark.createDataFrame(
        [(int(i), K_wkb.dumps(Geom.point(x, y)))
         for i, x, y in zip(rids, rx, ry)], "right_id long, geom binary")
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    got = SK.cell_nearest_all(left, right, res=5, max_rings=rings,
                              max_distance=md,
                              assume_points=assume_points).collect()
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == persisted
    li, ri, dd = _knn_brute(lx, ly, rx, ry, 5, rings, md)
    want = {(int(lids[a]), int(rids[b])): d for a, b, d in zip(li, ri, dd)}
    assert {(r["left_id"], r["right_id"]) for r in got} == set(want)
    assert len(got) == len(want)
    for r in got:
        assert r["distance"] == pytest.approx(want[(r["left_id"], r["right_id"])],
                                              rel=1e-12, abs=1e-12)
    if (rings, md) == (3, None):
        answered = {r["left_id"] for r in got}
        probes = lids[60:]
        assert probes[0] in answered and probes[4] in answered
        assert probes[2] not in answered and probes[3] not in answered
        near = {r["left_id"]: r["right_id"] for r in got}
        assert near[probes[1]] == rids[-1] and near[probes[4]] == rids[-2]
        if assume_points:
            assert sum(r["left_id"] == probes[5] for r in got) == len(rids)


def test_lonlat_join_validates_right_coords(spark):
    """broadcast_lonlat_join: right_lon and right_lat come as a pair,
    and an explicit max_right_rows=0 is a cap, not the default."""
    left = spark.createDataFrame([(1, 0.5, 0.5)], "left_id long, lon double, lat double")
    right = spark.createDataFrame([(7, 0.0, 0.0)], "right_id long, lon double, lat double")
    with pytest.raises(ValueError, match="right_lon and right_lat"):
        SJ.broadcast_lonlat_join(left, right, predicate="dwithin", distance=1.0,
                                 right_id="right_id", keep=["left_id"], right_lon="lon")
    with pytest.raises(ValueError, match="exceeds 0 rows"):
        SJ.broadcast_lonlat_join(left, right, predicate="dwithin", distance=1.0,
                                 right_id="right_id", keep=["left_id"],
                                 right_lon="lon", right_lat="lat", max_right_rows=0)


def test_nearest_all_lonlat_validates_right_coords(spark):
    """nearest_all_lonlat: same pair check and explicit-0 cap."""
    left = spark.createDataFrame([(1, 0.5, 0.5)], "left_id long, lon double, lat double")
    right = spark.createDataFrame([(7, 0.0, 0.0)], "right_id long, lon double, lat double")
    with pytest.raises(ValueError, match="right_lon and right_lat"):
        SK.nearest_all_lonlat(left, right, right_id="right_id", keep=["left_id"],
                              right_lat="lat")
    with pytest.raises(ValueError, match="exceeds 0 rows"):
        SK.nearest_all_lonlat(left, right, right_id="right_id", keep=["left_id"],
                              right_lon="lon", right_lat="lat", max_right_rows=0)


def _parity_fixture(spark):
    """Left points with NULL lon/lat rows and a NULL string column, some
    on right points, polygon edges and vertices; right points (given as
    WKB and as lon/lat) with a duplicate for ties, and a polygon layer."""
    lrows = [(0, "a", 1.0, 1.0), (1, None, 2.0, 2.0), (2, "c", 3.0, 1.5),
             (3, "d", None, 1.0), (4, None, 1.0, None), (5, "f", 5.0, 5.0),
             (6, "g", 4.0, 2.0), (7, "h", 0.5, 3.5), (8, None, None, None),
             (9, "j", 2.0, 0.0)]
    left = spark.createDataFrame(
        [(i, t, x, y, None if x is None or y is None else K_wkb.dumps(Geom.point(x, y)))
         for i, t, x, y in lrows],
        "left_id long, tag string, lon double, lat double, geom binary")
    prow = [(10, 1.0, 1.0), (11, 2.0, 2.0), (12, 2.0, 2.0), (13, 4.5, 2.5),
            (14, 0.0, 4.0), (15, None, 3.0)]
    points = spark.createDataFrame(
        [(i, x, y, None if x is None else K_wkb.dumps(Geom.point(x, y)))
         for i, x, y in prow], "right_id long, lon double, lat double, geom binary")
    polys = spark.createDataFrame(
        [(20, K_wkb.dumps(Geom.box(0, 0, 3, 3))),
         (21, K_wkb.dumps(Geom.polygon([(2, 0), (4, 2), (2, 2), (2, 0)]))),
         (22, K_wkb.dumps(Geom.linestring([(0, 3.5), (1, 3.5)])))],
        "right_id long, geom binary")
    return left, points, polys


def test_broadcast_apis_parity(spark):
    """The WKB and lon/lat forms of every broadcast join and kNN give
    the same rows (keep columns included) on points-as-WKB,
    points-as-lon/lat and polygon right sides — in particular coincident
    points under contains/covers, which the lon/lat probe used to miss."""
    left, points, polys = _parity_fixture(spark)
    wleft = left.select("left_id", "tag", "geom")
    keep = ["left_id", "tag"]

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    jcols = ["left_id", "tag", "right_id"]
    for pred, dist in [("intersects", None), ("within", None), ("covered_by", None),
                       ("dwithin", 1.2), ("touches", None), ("contains", None),
                       ("covers", None)]:
        for right, as_lonlat in ((points, True), (polys, False)):
            want = rows(SJ.broadcast_spatial_join(wleft, right, predicate=pred,
                                                  distance=dist), jcols)
            got = rows(SJ.broadcast_lonlat_join(left, right, predicate=pred,
                                                distance=dist, keep=keep), jcols)
            assert got == want, (pred, as_lonlat)
            if as_lonlat:
                got = rows(SJ.broadcast_lonlat_join(left, right, predicate=pred,
                                                    distance=dist, keep=keep,
                                                    right_lon="lon", right_lat="lat"),
                           jcols)
                assert got == want, (pred, "right lon/lat")
            if pred in ("contains", "covers") and as_lonlat:
                assert want == [(0, "a", 10), (1, None, 11), (1, None, 12)], pred
                cell = SJ.cell_spatial_join(wleft, right.where("geom IS NOT NULL"),
                                            predicate=pred, res=4, left_is_points=True)
                assert _pairs(cell) == [(r[0], r[2]) for r in want], pred
    kcols = jcols + ["distance"]
    for right, as_lonlat in ((points, True), (polys, False)):
        extra = [dict(right_lon="lon", right_lat="lat")] if as_lonlat else []
        want = rows(SK.broadcast_nearest_all(wleft, right), kcols)
        assert {r[0] for r in want} == {0, 1, 2, 5, 6, 7, 9}
        for kw in [{}] + extra:
            assert rows(SK.nearest_all_lonlat(left, right, keep=keep, **kw), kcols) == want
        want = rows(SK.nearest(wleft, right), kcols)
        assert len(want) == 7
        for kw in [{}] + extra:
            assert rows(SK.nearest_lonlat(left, right, keep=keep, **kw), kcols) == want


def test_broadcast_apis_one_arrow_crossing(spark):
    """Each broadcast API plans as exactly one mapInArrow node over the
    left side: no mapInPandas and no row-wise Python UDF node."""
    import re
    left, points, _ = _parity_fixture(spark)
    wleft = left.select("left_id", "tag", "geom")
    for df in (SJ.broadcast_spatial_join(wleft, points),
               SJ.broadcast_lonlat_join(left, points, keep=["left_id"], cell_res=5),
               SK.broadcast_nearest_all(wleft, points),
               SK.nearest_all_lonlat(left, points, keep=["left_id"]),
               SK.nearest_lonlat(left, points, right_lon="lon", right_lat="lat"),
               SK.nearest(wleft, points)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\b(PythonMapInArrow|MapInArrow)\b", plan)) == 1, plan
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan


def test_broadcast_join_validates_on_driver(spark):
    """dwithin without a distance, an unknown predicate and an unknown
    strategy raise ValueError when the join is built, not in a worker."""
    left, points, _ = _parity_fixture(spark)
    wleft = left.select("left_id", "geom")
    for call in (
            lambda: SJ.broadcast_spatial_join(wleft, points, predicate="dwithin"),
            lambda: SJ.broadcast_lonlat_join(left, points, predicate="dwithin"),
            lambda: SJ.spatial_join(wleft, points, predicate="dwithin",
                                    strategy="broadcast"),
            lambda: SJ.broadcast_lonlat_join(left, points, predicate="nearby")):
        with pytest.raises(ValueError, match="distance parameter|unknown predicate"):
            call()
    with pytest.raises(ValueError, match="unknown strategy"):
        SJ.spatial_join(wleft, points, strategy="Broadcast")


def test_cell_join_validates_on_driver(spark):
    """cell_spatial_join, on both paths, raises ValueError for dwithin
    without a distance, for an unknown predicate and for the bbox-only
    ``None`` (a cell join has no bbox-only mode) when the join is
    built, not in a worker."""
    left, points, _ = _parity_fixture(spark)
    wleft = left.select("left_id", "geom")
    for left_is_points in (True, False):
        for kw in (dict(predicate="dwithin"), dict(predicate="nearby"),
                   dict(predicate="nearby", distance=1.0), dict(predicate=None)):
            with pytest.raises(ValueError,
                               match="distance parameter|unknown predicate|bbox-only"):
                SJ.cell_spatial_join(wleft, points, left_is_points=left_is_points, **kw)


def test_cell_plans_one_arrow_crossing_per_side(spark):
    """Every cell plan (cell_spatial_join on the point and general paths
    and with relate_pattern, cell_nearest_all on both paths) has at most
    one mapInArrow per input side plus one refine, no pandas or
    row-wise Python UDF node, and no Python UDF under a Filter.  With
    both sides shuffled, the point join has exactly two exchanges: one
    per side of the cell equi-join, none for an id join-back."""
    import re
    left, points, polys = _parity_fixture(spark)
    wleft = left.select("left_id", "geom")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plans = {
            "points intersects": SJ.cell_spatial_join(wleft, polys, res=4,
                                                      left_is_points=True),
            "points dwithin": SJ.cell_spatial_join(wleft, polys, predicate="dwithin",
                                                   distance=1.0, res=4,
                                                   left_is_points=True),
            "general intersects": SJ.cell_spatial_join(wleft, polys, res=4),
            "relate_pattern": SJ.cell_spatial_join(wleft, polys, res=4,
                                                   predicate="relate_pattern",
                                                   pattern="T********"),
            "knn points": SK.cell_nearest_all(wleft, points.where("geom IS NOT NULL"),
                                              res=4, max_rings=4),
            "knn geoms": SK.cell_nearest_all(wleft, polys, res=4, max_rings=4,
                                             assume_points=False),
        }
        for name, df in plans.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert 2 <= len(re.findall(r"\b(PythonMapInArrow|MapInArrow)\b", plan)) <= 3, \
                (name, plan)
            for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
                assert node not in plan, (name, plan)
            for line in plan.splitlines():
                if re.search(r"\bFilter\b", line):
                    assert "pythonudf" not in line.lower(), (name, plan)
            if name == "points intersects":
                assert len(re.findall(r"\bExchange\b", plan)) == 2, plan
            # the plans still answer after the rewrite
            df.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cell_join_points_parity_degenerate(spark):
    """cell_spatial_join(left_is_points=True) returns the same pairs as
    broadcast_spatial_join, without a warning, on degenerate rows: NULL
    geometries, truncated WKB, NaN/±inf points, a NULL left id, an
    empty polygon and a polygon across the antimeridian (x 170..190;
    points past 180 fall in the edge cells)."""
    import warnings
    from collections import Counter
    from spark_geo.kernel.geom import POLYGON
    pt = lambda x, y: K_wkb.dumps(Geom.point(x, y))  # noqa: E731
    lrows = [(0, pt(1.0, 1.0)), (1, pt(2.0, 2.0)), (2, pt(3.0, 1.5)),
             (3, None), (4, pt(1.0, 1.0)[:12]), (5, pt(float("nan"), 1.0)),
             (6, pt(float("inf"), 5.0)), (7, pt(-float("inf"), 5.0)),
             (None, pt(2.5, 2.5)), (9, pt(175.0, 5.0)), (10, pt(185.0, 5.0)),
             (11, pt(190.0, 5.0)), (12, pt(-175.0, 5.0)), (13, pt(0.0, 3.5)),
             (14, pt(4.0, 2.0)), (15, pt(0.5, 3.5))]
    left = spark.createDataFrame(lrows, "left_id long, geom binary")
    rrows = [(20, K_wkb.dumps(Geom.box(0, 0, 3, 3))),
             (21, K_wkb.dumps(Geom.polygon([(2, 0), (4, 2), (2, 2), (2, 0)]))),
             (22, K_wkb.dumps(Geom.linestring([(0, 3.5), (1, 3.5)]))),
             (23, K_wkb.dumps(Geom(POLYGON))),
             (24, K_wkb.dumps(Geom.polygon([(170, 0), (190, 0), (190, 10),
                                            (170, 10), (170, 0)]))),
             (25, None), (26, K_wkb.dumps(Geom.box(5, 5, 6, 6))[:20]),
             (27, pt(1.0, 1.0)), (28, pt(float("nan"), 2.0))]
    right = spark.createDataFrame(rrows, "right_id long, geom binary")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # pyspark's collect leaves its local socket to the collector
        warnings.simplefilter("ignore", ResourceWarning)
        for pred, dist in [("intersects", None), ("within", None),
                           ("covered_by", None), ("touches", None),
                           ("contains", None), ("covers", None), ("dwithin", 1.5)]:
            want = Counter(tuple(r) for r in SJ.broadcast_spatial_join(
                left, right, predicate=pred, distance=dist)
                .select("left_id", "right_id").collect())
            got = Counter(tuple(r) for r in SJ.cell_spatial_join(
                left, right, predicate=pred, distance=dist, res=4,
                left_is_points=True).collect())
            assert got == want, pred
            if pred == "intersects":
                assert {(None, 20), (9, 24), (10, 24), (11, 24), (0, 27)} <= set(want)
