"""Spark-layer function tests: the same reference truth tables driven
through DataFrames (SURVEY.md §5 test plan step 2)."""

import numpy as np
import pytest
from pyspark.sql import functions as F, types as T

from spark_geo import functions as SG
from spark_geo.kernel import wkb as K_wkb
from spark_geo.kernel.geom import Geom


@pytest.fixture(scope="module")
def points_df(spark):
    return spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(6)], "id long, lon double, lat double"
    ).withColumn("pt", SG.st_point(F.col("lon"), F.col("lat")))


BOX_WKB = K_wkb.dumps(Geom.box(2, 2, 4, 4))


def test_st_point_xy_roundtrip(spark, points_df):
    got = points_df.select("id", SG.st_x("pt").alias("x"), SG.st_y("pt").alias("y")) \
        .orderBy("id").collect()
    for r in got:
        assert r["x"] == float(r["id"]) and r["y"] == float(r["id"])


def test_st_point_null_lonlat(spark):
    df = spark.createDataFrame([(None, 1.0), (2.0, None), (3.0, 4.0)],
                               "lon double, lat double")
    rows = df.select(SG.st_x(SG.st_point("lon", "lat")).alias("x")).collect()
    # the reference's NaN-for-missing surfaces as SQL NULL through Arrow
    # (pandas NaN -> Arrow null) — the Spark-idiomatic equivalent
    assert rows[0]["x"] is None and rows[1]["x"] is None and rows[2]["x"] == 3.0


def test_predicates_against_box(spark, points_df):
    df = points_df.withColumn("box", F.lit(BOX_WKB))
    got = df.select(
        "id",
        SG.st_contains("box", "pt").alias("c"),
        SG.st_intersects("box", "pt").alias("i"),
        SG.st_covers("box", "pt").alias("v"),
    ).orderBy("id").collect()
    # reference point_polygon_testdata truth table (common.py:9-12)
    assert [r["c"] for r in got] == [False, False, False, True, False, False]
    assert [r["i"] for r in got] == [False, False, True, True, True, False]
    assert [r["v"] for r in got] == [False, False, True, True, True, False]


def test_st_dwithin(spark, points_df):
    df = points_df.withColumn("origin", SG.st_point(F.lit(0.0), F.lit(0.0)))
    got = df.select("id", SG.st_dwithin("pt", "origin", 3.0).alias("w")).orderBy("id").collect()
    # dist(i,i)->(0,0) = i*sqrt(2) <= 3 for i in 0,1,2
    assert [r["w"] for r in got] == [True, True, True, False, False, False]


def test_wkt_io(spark):
    df = spark.createDataFrame(
        [("POINT (2 3)",), ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",),
         ("not wkt",), (None,)], "wkt string")
    got = df.select(SG.st_as_wkt(SG.st_from_wkt("wkt")).alias("w")).collect()
    assert got[0]["w"] == "POINT (2 3)"
    assert got[1]["w"] == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert got[2]["w"] is None  # invalid -> NULL (on_invalid='ignore')
    assert got[3]["w"] is None


def test_measures(spark):
    df = spark.createDataFrame([
        ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",),
        ("LINESTRING (0 0, 1 0, 1 1)",),
        ("POINT EMPTY",), (None,)], "wkt string") \
        .withColumn("g", SG.st_from_wkt("wkt"))
    got = df.select(SG.st_area("g").alias("a"), SG.st_length("g").alias("l")).collect()
    assert got[0]["a"] == 4.0 and got[0]["l"] == 8.0
    assert got[1]["a"] == 0.0 and got[1]["l"] == 2.0
    assert got[2]["a"] == 0.0
    assert got[3]["a"] is None  # None -> NaN -> SQL NULL via Arrow


def test_st_bounds_and_total_bounds(spark):
    df = spark.createDataFrame([
        ("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))",),
        ("POINT (5 -3)",)], "wkt string") \
        .withColumn("b", SG.st_bounds(SG.st_from_wkt("wkt")))
    # total_bounds = plain Catalyst aggregate (reference measurement.py:106)
    tb = df.agg(F.min("b.xmin").alias("xmin"), F.min("b.ymin").alias("ymin"),
                F.max("b.xmax").alias("xmax"), F.max("b.ymax").alias("ymax")).first()
    assert (tb["xmin"], tb["ymin"], tb["xmax"], tb["ymax"]) == (0.0, -3.0, 5.0, 2.0)


def test_st_distance_vectorized(spark):
    df = spark.createDataFrame([(0.0, 0.0, 3.0, 4.0), (1.0, 1.0, 1.0, 1.0)],
                               "x1 double, y1 double, x2 double, y2 double")
    got = df.select(SG.st_distance(SG.st_point("x1", "y1"),
                                   SG.st_point("x2", "y2")).alias("d")).collect()
    assert got[0]["d"] == 5.0 and got[1]["d"] == 0.0


def test_type_and_dump(spark):
    df = spark.createDataFrame(
        [("MULTIPOINT (0 0, 1 2)",), ("POINT (1 1)",)], "wkt string") \
        .withColumn("g", SG.st_from_wkt("wkt"))
    got = df.select(SG.st_geom_type("g").alias("t"),
                    SG.st_num_geometries("g").alias("n")).collect()
    assert got[0]["t"] == "MULTIPOINT" and got[0]["n"] == 2
    assert got[1]["t"] == "POINT" and got[1]["n"] == 1
    parts = df.select(F.explode(SG.st_dump("g")).alias("p")) \
        .select(SG.st_as_wkt("p").alias("w")).collect()
    assert [r["w"] for r in parts] == ["POINT (0 0)", "POINT (1 2)", "POINT (1 1)"]


def test_type_of_short_body_is_none(spark):
    """LINESTRING/MULTIPOINT rows whose declared count overruns the row
    answer like the scalar on_invalid='ignore' path: type id -1 (the
    None geometry's id) and type name None, not the header's type."""
    short = [b"\x01\x02\x00\x00\x00\x0a\x00\x00\x00",  # LINESTRING, 10 pts
             b"\x00\x00\x00\x00\x04\x00\x00\x00\x02"   # MULTIPOINT (XDR),
             + b"\x00\x00\x00\x00\x01" + b"\x00" * 16]    # 2 claimed, 1 present
    df = spark.createDataFrame([(b,) for b in short], "g binary")
    got = df.select(SG.st_type_id("g").alias("i"),
                    SG.st_geom_type("g").alias("t")).collect()
    assert [(r["i"], r["t"]) for r in got] == [(-1, None)] * len(short)


def test_constructive_cols(spark):
    df = spark.createDataFrame([("POINT (1 1)",)], "wkt string") \
        .withColumn("g", SG.st_from_wkt("wkt"))
    r = df.select(
        SG.st_area(SG.st_buffer("g", 2.0, quadsegs=8)).alias("ba"),
        SG.st_as_wkt(SG.st_centroid(SG.st_buffer("g", 2.0))).alias("c"),
    ).first()
    n = 32
    assert abs(r["ba"] - 0.5 * n * 4 * np.sin(2 * np.pi / n)) < 1e-9
    assert r["c"] == "POINT (1 1)"


def test_cell_functions(spark):
    df = spark.createDataFrame([(13.4, 52.5), (-74.0, 40.7)], "lon double, lat double")
    got = df.select(
        SG.st_cell_lonlat("lon", "lat", 8).alias("cell"),
        SG.st_cell_parent(SG.st_cell_lonlat("lon", "lat", 8), 4).alias("parent"),
    ).collect()
    from spark_geo.kernel import cell as K_cell
    expect = K_cell.cell_of([13.4, -74.0], [52.5, 40.7], 8)
    assert [r["cell"] for r in got] == expect.tolist()
    assert [r["parent"] for r in got] == K_cell.cell_parent(expect, 4).tolist()
    # boundary contains the original point
    b = df.select(SG.st_contains(
        SG.st_cell_boundary(SG.st_cell_lonlat("lon", "lat", 8)),
        SG.st_point("lon", "lat")).alias("ok")).collect()
    assert all(r["ok"] for r in b)


def test_cell_cover_explode(spark):
    df = spark.createDataFrame([("POLYGON ((0 0, 20 0, 20 10, 0 10, 0 0))",)], "wkt string")
    cells = df.select(F.explode(SG.st_cell_cover(SG.st_from_wkt("wkt"), 6)).alias("c")).count()
    assert cells > 1


# -- on_invalid modes (reference io.py:27-29, tests/test_io.py) -------------

def test_on_invalid_ignore_warn_raise(spark):
    import pyspark
    df = spark.createDataFrame(
        [(1, "POINT (1 2)"), (2, "POINT (abc)"), (3, None), (4, "LINESTRING (0 0, 1 1)")],
        "id long, w string")
    # ignore (default): bad -> NULL
    out = df.select("id", SG.st_from_wkt_opt(F.col("w")).alias("g")) \
        .orderBy("id").collect()
    assert [r["g"] is None for r in out] == [False, True, True, False]
    # warn: same NULLs, accumulator counts the invalid rows
    acc = spark.sparkContext.accumulator(0)
    # no orderBy here: range-partition sampling would re-run the UDF and
    # double-count the accumulator (standard Spark accumulator caveat)
    out = sorted(df.select("id", SG.st_from_wkt_opt(F.col("w"), "warn", acc)
                           .alias("g")).collect(), key=lambda r: r["id"])
    assert [r["g"] is None for r in out] == [False, True, True, False]
    assert acc.value == 1
    # raise: the task fails fast
    with pytest.raises(Exception, match="invalid WKT"):
        df.select(SG.st_from_wkt_opt(F.col("w"), "raise").alias("g")).collect()
    with pytest.raises(ValueError, match="on_invalid"):
        SG.st_from_wkt_opt(F.col("w"), "explode")


def test_on_invalid_wkb_and_geojson(spark):
    from spark_geo.kernel import wkb as K_wkb
    from spark_geo.kernel.geom import Geom
    good = K_wkb.dumps(Geom.point(3, 4))
    df = spark.createDataFrame([(1, good), (2, b"\x01\x99junk")],
                               "id long, b binary")
    acc = spark.sparkContext.accumulator(0)
    out = sorted(df.select("id", SG.st_from_wkb_opt(F.col("b"), "warn", acc)
                           .alias("g")).collect(), key=lambda r: r["id"])
    assert out[0]["g"] == good and out[1]["g"] is None  # identity on valid
    assert acc.value == 1
    gj = spark.createDataFrame(
        [(1, '{"type": "Point", "coordinates": [1.0, 2.0]}'),
         (2, '{"type": "Nope"}')], "id long, j string")
    out = gj.select("id", SG.st_from_geojson_opt(F.col("j")).alias("g")) \
        .orderBy("id").collect()
    assert out[0]["g"] is not None and out[1]["g"] is None
    with pytest.raises(Exception, match="invalid GeoJSON"):
        gj.select(SG.st_from_geojson_opt(F.col("j"), "raise").alias("g")).collect()
