"""Tile aggregation + pages pipeline tests (flagship path, text
byte-identity invariant, checkpoint/resume, salting)."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_geo import functions as SG
from spark_geo import pipeline as PL
from spark_geo import tiles as TL
from spark_geo.kernel import cell as K_cell
from spark_geo.kernel import wkb as K_wkb
from spark_geo.kernel.geom import Geom


@pytest.fixture(scope="module")
def pages(spark):
    return PL.synth_pages(spark, 2000).cache()


def test_synth_pages_deterministic(spark):
    a = PL.synth_pages(spark, 100).collect()
    b = PL.synth_pages(spark, 100).collect()
    assert a == b
    assert len({r["url"] for r in a}) == 100


def test_text_byte_identity(pages):
    # BASELINE.json input_hint invariant: extracted text == text, per url
    assert PL.text_identity_violations(pages) == 0


@pytest.fixture(scope="module")
def odd_pages(spark):
    """Geotag edge cases: tagged and untagged rows, NULL text, two tags
    (the first wins), a tag without decimals (no match, NULL) and
    negative coordinates."""
    texts = ["Page reports on a site located at 12.5,-3.25 with notes.",
             "no geotag in this page",
             None,
             "located at 1.5,2.5 then located at 3.5,4.5",
             "located at 1,2",
             "located at -33.8688,-151.2093",
             "located at -0.0001,179.9999."]
    return spark.createDataFrame(list(enumerate(texts)), "id long, text string")


def _withcolumn_geocode(df):
    """``geocode``'s expressions as two plain ``withColumn`` calls,
    with no generator: the value oracle for ``geocode``."""
    m = F.regexp_extract(F.col("text"), PL.GEO_PATTERN, 0)
    body = F.substring(m, 12, 2_000_000)
    lat = F.substring_index(body, ",", 1)
    lon = F.substring_index(body, ",", -1)
    return (df.withColumn("lat", F.when(lat != "", lat.cast("double")))
              .withColumn("lon", F.when(lon != "", lon.cast("double"))))


def _tiles_chain(pts):
    stats = TL.tile_stats(TL.assign_cells(pts, "lon", "lat", 6)).where(F.col("cell") >= 0)
    roll = TL.tile_rollup(stats, 3, aggs=[F.sum("n").alias("n")])
    return TL.cells_to_polygons(roll, cell_col="parent_cell")


def test_geocode_roundtrip(pages, odd_pages):
    g = PL.geocode(pages).select("lat", "lon", "text").collect()
    for r in g[:50]:
        assert f"located at {r['lat']:.4f},{r['lon']:.4f}" in r["text"]
    # column names, order, types, nullability and every value equal
    # the withColumn chain's, also over an input that already has
    # lat/lon columns (replaced in place)
    with_latlon = odd_pages.select("id", F.lit("x").alias("lon"), "text",
                                   F.lit(0.0).alias("lat"))
    for df in (odd_pages, with_latlon, pages):
        got, want = PL.geocode(df), _withcolumn_geocode(df)
        assert got.columns == want.columns
        assert got.schema == want.schema       # types and nullability
        assert got.collect() == want.collect()
    rows = {r["id"]: (r["lat"], r["lon"]) for r in PL.geocode(odd_pages).collect()}
    assert rows == {0: (12.5, -3.25), 1: (None, None), 2: (None, None),
                    3: (1.5, 2.5), 4: (None, None),
                    5: (-33.8688, -151.2093), 6: (-0.0001, 179.9999)}
    # the filtered tiles chain answers the same (parent_cell, n) rows
    tiles = [_tiles_chain(geo(pages)).select("parent_cell", "n").orderBy("parent_cell").collect()
             for geo in (PL.geocode, _withcolumn_geocode)]
    assert tiles[0] == tiles[1] and sum(r["n"] for r in tiles[0]) == 2000


def test_flagship_counts(spark, pages):
    layer = PL.make_world_layer(spark)
    out = PL.flagship(pages, layer, res=6).collect()
    total = sum(r["n_pages"] for r in out)
    # every geocoded page lands in >= 1 region (grid tiles the world;
    # overlap with concave/holed adds a few duplicates)
    assert total >= 2000
    assert all(r["n_cells"] >= 1 for r in out)


def test_tile_stats_and_rollup(spark, pages):
    pts = PL.geocode(pages)
    t = TL.assign_cells(pts, "lon", "lat", 6)
    stats = TL.tile_stats(t, aggs=[F.count(F.lit(1)).alias("n")])
    assert stats.agg(F.sum("n")).first()[0] == 2000
    roll = TL.tile_rollup(t.groupBy("cell").count(), 3, aggs=[F.sum("count").alias("n")])
    assert roll.agg(F.sum("n")).first()[0] == 2000
    # rollup produces fewer, coarser tiles
    assert roll.count() <= stats.count()


def test_hot_cells_detected(spark, pages):
    pts = TL.assign_cells(PL.geocode(pages), "lon", "lat", 5)
    hot = PL.hot_cells(pts, threshold=80)
    hot_ids = {r["cell"] for r in hot.collect()}
    # the 3 seeded city clusters must be hot (20% of rows over 3 cities)
    for lon, lat in PL.HOT_CITIES:
        assert int(K_cell.cell_of([lon], [lat], 5)[0]) in hot_ids


def test_salting_preserves_join_result(spark, pages):
    pts = TL.assign_cells(PL.geocode(pages), "lon", "lat", 5).select("url", "cell")
    right = pts.groupBy("cell").count().select("cell")  # one row per cell
    plain = pts.join(right, "cell").count()
    hot = PL.hot_cells(pts, threshold=80)
    l, r = PL.salt_hot_cells(pts, right, hot, buckets=4)
    salted = l.join(r, "salted_cell").count()
    assert salted == plain


def test_cells_to_polygons_cover_points(spark, pages):
    pts = TL.assign_cells(PL.geocode(pages), "lon", "lat", 6).limit(100)
    polys = TL.cells_to_polygons(pts)
    ok = polys.select(SG.st_covers("geom", SG.st_point("lon", "lat")).alias("ok"))
    assert all(r["ok"] for r in ok.collect())


def test_rasterize_fractions(spark):
    layer = spark.createDataFrame(
        [(0, K_wkb.dumps(Geom.box(0.0, 0.0, 45.0, 45.0)))], "polygon_id long, geom binary")
    r = TL.rasterize(layer, res=3)  # 45x22.5-degree cells
    rows = r.collect()
    assert abs(sum(x["area_frac"] for x in rows) - 1.0) < 1e-9
    assert all(x["area_frac"] > 0 for x in rows)
    d = TL.dissolve_tiles(r, "polygon_id")
    assert abs(d.first()["area"] - 45.0 * 45.0) < 1e-6


def test_checkpoint_resume(spark, pages, tmp_path):
    layer = PL.make_world_layer(spark)
    out = str(tmp_path / "ckpt")
    r1 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    assert r1["resumed_from"] == 0 and len(r1["processed_parts"]) == 8
    # second run: everything already done
    r2 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    assert r2["resumed_from"] == 8 and r2["processed_parts"] == []
    # simulate mid-job crash: drop 3 parts from the manifest
    import json
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["completed_parts"] = m["completed_parts"][:-3]
    with open(mpath, "w") as f:
        json.dump(m, f)
    r3 = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    assert len(r3["processed_parts"]) == 3
    # final data is complete and row-count-identical to a fresh run
    data = spark.read.parquet(os.path.join(out, "data"))
    fresh = PL.flagship(pages, layer, res=6)
    assert data.count() == fresh.agg(F.sum("n_pages")).first()[0]


def _pairs(spark, out):
    rows = (spark.read.parquet(os.path.join(out, "data"))
            .select("part_id", "url", "cell", "polygon_id").collect())
    return sorted(tuple(r) for r in rows)


def test_checkpoint_resume_matches_uninterrupted(spark, pages, tmp_path):
    """A crash that lost the last buckets' manifest entries and
    directories and left a torn ``manifest.json.tmp`` behind: the resume
    rewrites exactly those buckets, and the output equals an
    uninterrupted run's pair for pair."""
    layer = PL.make_world_layer(spark)
    out, ref = str(tmp_path / "crashed"), str(tmp_path / "clean")
    PL.run_with_checkpoint(pages, layer, ref, res=6, num_parts=8)
    PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    data = os.path.join(out, "data")
    assert spark.read.parquet(data).columns == ["url", "lang", "cell", "polygon_id",
                                                "part_id"]
    mpath = os.path.join(out, "manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    dropped = m["completed_parts"][-3:]
    m["completed_parts"] = m["completed_parts"][:-3]
    with open(mpath, "w") as f:
        json.dump(m, f)
    for k in dropped:
        shutil.rmtree(os.path.join(data, f"part_id={k}"))
    with open(mpath + ".tmp", "w") as f:
        f.write('{"completed_parts": [0, 1')
    r = PL.run_with_checkpoint(pages, layer, out, res=6, num_parts=8)
    assert r["processed_parts"] == dropped and r["resumed_from"] == 5
    assert _pairs(spark, out) == _pairs(spark, ref)
    with open(mpath) as f:
        assert json.load(f)["completed_parts"] == list(range(8))
    assert not os.path.exists(mpath + ".tmp")
    with open(os.path.join(out, "metrics.jsonl")) as f:
        metrics = [json.loads(line) for line in f]
    counts = {k: n for k, n in spark.read.parquet(data).groupBy("part_id").count().collect()}
    assert {m["part_id"]: m["rows"] for m in metrics} == counts


def test_checkpoint_zero_row_buckets_done(spark, pages, tmp_path):
    """Buckets that get no rows are recorded as done too, so a rerun
    has nothing left to do."""
    layer = PL.make_world_layer(spark)
    out = str(tmp_path / "ckpt")
    few = pages.where(F.col("url").rlike("/page/[0-2]$"))
    r1 = PL.run_with_checkpoint(few, layer, out, res=6, num_parts=16)
    assert r1["processed_parts"] == list(range(16))
    with open(os.path.join(out, "metrics.jsonl")) as f:
        rows = {m["part_id"]: m["rows"] for m in map(json.loads, f)}
    assert sum(rows.values()) == 3 and list(rows.values()).count(0) >= 13
    r2 = PL.run_with_checkpoint(few, layer, out, res=6, num_parts=16)
    assert r2["processed_parts"] == [] and r2["resumed_from"] == 16


def test_checkpoint_leaves_session_conf(spark, pages, tmp_path):
    """The dynamic overwrite is a per-write option; the session's own
    partitionOverwriteMode is left as the caller set it."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        PL.run_with_checkpoint(pages.limit(50), PL.make_world_layer(spark),
                               str(tmp_path / "ckpt"), res=6, num_parts=2)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize("num_parts", [0, -1])
def test_checkpoint_rejects_bad_num_parts(spark, pages, tmp_path, num_parts):
    with pytest.raises(ValueError, match="num_parts"):
        PL.run_with_checkpoint(pages, PL.make_world_layer(spark),
                               str(tmp_path / "ckpt"), num_parts=num_parts)
    assert not os.path.exists(tmp_path / "ckpt")


def test_page_pairs_plan_shape(spark, pages):
    """Flagship and checkpoint share one pair plan: a single Python
    crossing (the lon/lat probe's map node) and no row-wise Python UDF.
    In it and in every geocode consumer that filters on lon/lat or on
    a cell derived from them (an isNotNull, the tiles chain's
    ``cell >= 0``, the batch form of ``stream_tile_counts``), the
    geocode regexp is evaluated in exactly one plan node and in no
    Filter: the filter is not pushed into the regexp chain."""
    import re
    from spark_geo import streaming as STR
    layer = PL.make_world_layer(spark)
    work = (pages.withColumn("part_id", F.pmod(F.xxhash64("url"), F.lit(8)))
            .where(F.col("part_id").isin([1, 2])))
    keep = ["part_id", "url", "lang"]
    pairs = [(PL._page_pairs(pages, layer, 6), []),
             (PL._page_pairs(work, layer, 6, keep=keep), keep)]
    for df, cols in pairs:
        assert df.columns == cols + ["cell", "polygon_id"]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"\b(MapInPandas|MapInArrow|PythonMapInArrow)\b", plan)) == 1, plan
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    filtered = [PL.geocode(pages).where(F.col("lon").isNotNull()),
                _tiles_chain(PL.geocode(pages)),
                STR.stream_tile_counts(pages, res=6)]   # watermark is a no-op in batch
    for df in [df for df, _ in pairs] + filtered:
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = [line for line in plan.splitlines() if "regexp_extract" in line]
        assert len(nodes) == 1, plan
        assert not re.search(r"\bFilter\b", nodes[0]), plan
