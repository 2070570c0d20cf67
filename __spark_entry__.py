"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises a spark_geo engine operator
(SURVEY.md §2) over the driver's star-schema tables, with lon/lat
derived deterministically from integer keys on a 0.25-degree lattice —
exactly representable doubles, so the DuckDB ``oracle_sql()`` twin
computes bit-identical values and boundary predicates can't flip.

Spatial columns are synthesized in the query itself (FIXTURES.md §6):
  customer point: lon = ((c_custkey*37) % 1440)/4 - 180
                  lat = ((c_custkey*53) % 720)/4 - 90
  supplier point: lon = ((s_suppkey*41) % 1440)/4 - 180
                  lat = ((s_suppkey*31) % 720)/4 - 90
  nation box:     x0 = (n_nationkey % 5)*72 - 180, w = 70
                  y0 = (floor(n_nationkey/5) % 5)*36 - 90, h = 34
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_geo import functions as SG
from spark_geo import join as SJ
from spark_geo import knn as SK
from spark_geo import tiles as TL
from spark_geo.kernel.cell import cell_sql_expr
from spark_geo.session import ship_package

RES = 9
PARENT_RES = 4
DWITHIN_D = 15.0

# SQL fragments for the deterministic lattice (DuckDB oracle side)
CUST_LON = "(((c_custkey*37) % 1440)/4.0 - 180.0)"
CUST_LAT = "(((c_custkey*53) % 720)/4.0 - 90.0)"
SUPP_LON = "(((s_suppkey*41) % 1440)/4.0 - 180.0)"
SUPP_LAT = "(((s_suppkey*31) % 720)/4.0 - 90.0)"
BOX_X0 = "((n_nationkey % 5)*72.0 - 180.0)"
BOX_Y0 = "((CAST(FLOOR(n_nationkey/5.0) AS BIGINT) % 5)*36.0 - 90.0)"


_BYTES_CACHE: dict[tuple[str, str], int] = {}

# Default spread keys for the bench's multi-split emulation (r6): a
# deterministic HASH repartition on a table key spreads rows exactly
# like round-robin but needs no sort-before-repartition (the local
# sort keyless repartition pays for retry determinism, guide §2.5),
# and queries that later shuffle by the same key (events window)
# reuse the exchange outright.
_TABLE_KEYS: dict[str, list[str]] = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"],
    "documents": ["doc_id"], "events": ["user_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"], "part": ["p_partkey"],
    # embeddings deliberately stays round-robin: hash-by-vec_id
    # measured 2x SLOWER on ann_topk (1.06s vs 0.46s isolated) —
    # the cross-join probe side is distribution-sensitive here.
}


def _load(spark: SparkSession, sf_dir: str, name: str,
          keys: list[str] | None = None) -> DataFrame:
    """Read one star-schema table.  The sf0.x parquet files are single
    row-group files that Spark cannot split, so a local[32] run would
    otherwise execute every probe in ONE task — an artifact a real
    multi-file 100 TB table never exhibits.  The bench sets
    ``spark_geo.bench.input_partitions`` to emulate the multi-split
    scan; correctness runs leave it unset and plans stay shuffle-free.

    The emulated split count is floored by BYTES-per-split, the same
    axis ``spark.sql.files.maxPartitionBytes`` floors real scan splits
    on (round 3 floored by ROWS, which serialized the CPU-heavy
    small-row-count tables — 5k multi-hundred-byte documents collapsed
    to 2 splits and ran the regex/BPE queries on 2 cores; VERDICT r3
    item 1).  Tiny dimension tables (nation/region, < one split of
    bytes) still stay at 1 split, preserving the round-2 cell_tiles
    fix.  Uncompressed byte totals come from the parquet footer
    (driver-side metadata read, no Spark job) and are cached per
    process."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    try:
        n = int(spark.conf.get("spark_geo.bench.input_partitions", "0"))
    except Exception:
        n = 0
    if n > 0:
        try:
            tgt = int(spark.conf.get("spark_geo.bench.min_bytes_per_split",
                                     str(64 * 1024)))
        except Exception:
            tgt = 64 * 1024
        key = (sf_dir, name)
        if key not in _BYTES_CACHE:
            import pyarrow.parquet as _pq
            md = _pq.ParquetFile(path).metadata
            _BYTES_CACHE[key] = sum(
                md.row_group(i).total_byte_size
                for i in range(md.num_row_groups))
        n = min(n, max(1, _BYTES_CACHE[key] // tgt))
    if n > 1:
        # ``keys``: when the query's next operator re-shuffles by a
        # known key anyway (window/groupBy), emulate the multi-split
        # scan with a HASH repartition on that key — the downstream
        # exchange then reuses the partitioning and the round-robin
        # variant's sort-before-repartition never happens (r6, guide
        # §2.4: two operations keyed the same way share one exchange).
        keys = keys if keys is not None else _TABLE_KEYS.get(name)
        return df.repartition(n, *keys) if keys else df.repartition(n)
    return df


def _cust_points(spark, sf_dir) -> DataFrame:
    """Customer rows with the deterministic lattice point."""
    c = _load(spark, sf_dir, "customer")
    lon = (F.pmod(F.col("c_custkey") * 37, F.lit(1440)) / 4.0 - 180.0)
    lat = (F.pmod(F.col("c_custkey") * 53, F.lit(720)) / 4.0 - 90.0)
    return (c.withColumn("lon", lon).withColumn("lat", lat)
            .withColumn("point", SG.st_point("lon", "lat")))


def _supp_points(spark, sf_dir) -> DataFrame:
    s = _load(spark, sf_dir, "supplier")
    lon = (F.pmod(F.col("s_suppkey") * 41, F.lit(1440)) / 4.0 - 180.0)
    lat = (F.pmod(F.col("s_suppkey") * 31, F.lit(720)) / 4.0 - 90.0)
    return (s.withColumn("lon", lon).withColumn("lat", lat)
            .withColumn("point", SG.st_point("lon", "lat")))


def _nation_boxes(spark, sf_dir) -> DataFrame:
    n = _load(spark, sf_dir, "nation")
    x0 = F.pmod(F.col("n_nationkey"), F.lit(5)) * 72.0 - 180.0
    y0 = F.pmod(F.floor(F.col("n_nationkey") / F.lit(5.0)), F.lit(5)) * 36.0 - 90.0
    return (n.withColumn("x0", x0).withColumn("y0", y0)
            .withColumn("geom", SG.st_make_box(F.col("x0"), F.col("y0"),
                                               F.col("x0") + 70.0, F.col("y0") + 34.0))
            .withColumn("polygon_id", F.col("n_nationkey").cast("long")))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_pip_join_count(spark, sf_dir):
    """Two-phase spatial join (broadcast STRtree + ray-cast PIP refine):
    customer points in nation boxes, count per box.  r6: probes go
    through the lon/lat double fast path (broadcast_lonlat_join) — no
    WKB encode/decode on the point side, same rows (the WKB point
    round-trip is coordinate-exact)."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir)
    layer = _nation_boxes(spark, sf_dir).select("polygon_id", "geom")
    j = SJ.broadcast_lonlat_join(pts, layer, lon="lon", lat="lat",
                                 predicate="intersects",
                                 right_id="polygon_id",
                                 keep=["c_custkey"])
    return (j.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n_points"))
            .orderBy("polygon_id"))


def q_pip_contains_pairs(spark, sf_dir):
    """Strict-containment pairs (boundary points excluded — the
    reference's contains semantics, predicates.py:470-519)."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir)
    layer = _nation_boxes(spark, sf_dir).select("polygon_id", "geom")
    j = SJ.broadcast_lonlat_join(pts, layer, lon="lon", lat="lat",
                                 predicate="within",
                                 right_id="polygon_id",
                                 keep=["c_custkey"])
    return j.select("c_custkey", "polygon_id")


def q_cell_assign(spark, sf_dir):
    """Cell encoding (st_cell) + per-cell counts (tile stats)."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir)
    t = TL.assign_cells(pts, "lon", "lat", RES)
    return t.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).orderBy("cell")


def q_tile_rollup(spark, sf_dir):
    """Multi-resolution rollup via st_cell_parent."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir)
    t = TL.assign_cells(pts, "lon", "lat", RES)
    return (TL.tile_rollup(t, PARENT_RES, aggs=[F.count(F.lit(1)).alias("n")])
            .orderBy("parent_cell"))


def q_dwithin_join(spark, sf_dir):
    """Distance join: customer✕supplier pairs within 15 degrees
    (broadcast tree + dwithin refine; reference predicates.py:1009)."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir)
    supp = _supp_points(spark, sf_dir).select(
        F.col("s_suppkey").alias("right_id"), "lon", "lat")
    j = SJ.broadcast_lonlat_join(pts, supp, lon="lon", lat="lat",
                                 predicate="dwithin", distance=DWITHIN_D,
                                 right_id="right_id", keep=["c_custkey"],
                                 right_lon="lon", right_lat="lat")
    return j.select("c_custkey", F.col("right_id").alias("s_suppkey"))


def q_knn_nearest(spark, sf_dir):
    """Nearest supplier per customer, deterministic lowest-id tie-break
    (reference nearest, strtree.py:231-275, made deterministic)."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir)
    supp = _supp_points(spark, sf_dir).select(
        F.col("s_suppkey").alias("right_id"), "lon", "lat")
    nn = SK.nearest_lonlat(pts, supp, lon="lon", lat="lat",
                           right_id="right_id", keep=["c_custkey"],
                           right_lon="lon", right_lat="lat")
    return nn.select("c_custkey", F.col("right_id").alias("s_suppkey"),
                     F.round("distance", 6).alias("dist_r"))


def q_total_bounds(spark, sf_dir):
    """total_bounds as a native Catalyst aggregate (reference
    measurement.py:106-148) over st_bounds structs."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir).withColumn("b", SG.st_bounds("point"))
    return pts.agg(F.min("b.xmin").alias("xmin"), F.min("b.ymin").alias("ymin"),
                   F.max("b.xmax").alias("xmax"), F.max("b.ymax").alias("ymax"))


def q_box_measures(spark, sf_dir):
    """st_area / st_length on constructed boxes (reference
    measurement.py:23-47, :152-178)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    return b.select(
        "polygon_id",
        F.round(SG.st_area("geom"), 6).alias("area_r"),
        F.round(SG.st_length("geom"), 6).alias("perimeter_r"),
        F.round(SG.st_x(SG.st_centroid("geom")), 6).alias("cx_r"),
        F.round(SG.st_y(SG.st_centroid("geom")), 6).alias("cy_r"),
    ).orderBy("polygon_id")


def q_clip_area(spark, sf_dir):
    """clip_by_rect (reference constructive.py:278-322): nation boxes
    clipped to a fixed window, remaining area."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    clipped = b.withColumn("c", SG.st_clip_by_rect("geom", -100.0, -50.0, 100.0, 50.0))
    return (clipped.select("polygon_id", F.round(SG.st_area("c"), 6).alias("clip_area_r"))
            .orderBy("polygon_id"))


def q_buffer_contains(spark, sf_dir):
    """buffer + contains composition: which customers fall in a
    0.5-degree buffer around their nation-box centroid... simplified:
    buffer supplier points, count customers within (engine-only
    composition; oracle uses the regular n-gon area identity)."""
    ship_package(spark)
    supp = _supp_points(spark, sf_dir)
    buf = supp.withColumn("bgeom", SG.st_buffer("point", 2.0, quadsegs=8))
    return (buf.select("s_suppkey", F.round(SG.st_area("bgeom"), 6).alias("buf_area_r"))
            .orderBy("s_suppkey"))


def q_events_topk(spark, sf_dir):
    """Window top-k plumbing (SURVEY.md §2.10 note): top-3 events per
    user by value, deterministic tie-break."""
    e = _load(spark, sf_dir, "events", keys=["user_id"])
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (e.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 3)
            .select("user_id", "event_id", "rk"))


def q_events_sessionize(spark, sf_dir):
    """Sessionization: 30-minute-gap sessions per user (stateful
    batch analogue of streaming session windows)."""
    e = _load(spark, sf_dir, "events", keys=["user_id"])
    w = Window.partitionBy("user_id").orderBy("ts")
    sec = F.col("ts").cast("timestamp").cast("double")  # parquet ts is NTZ
    gap = sec - F.lag(sec).over(w)
    newsess = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    return (e.withColumn("ns", newsess)
            .groupBy("user_id").agg(F.sum("ns").alias("n_sessions"),
                                    F.count(F.lit(1)).alias("n_events"))
            .orderBy("user_id"))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup over documents via the engine's hash-first scale
    shape (spark_geo.text.exact_dedup): shuffle carries (sha256, id)
    instead of raw text — the plan a 100 TB corpus needs."""
    from spark_geo import text as TX
    d = _load(spark, sf_dir, "documents")
    # no orderBy (r6, guide §2.4): the output sort was presentational
    # only — the driver's comparison is order-insensitive (several
    # registry queries have never had an orderBy and pass hash_match
    # every round) and the range exchange + sampling pass cost 0.33s
    # of the benched dedup time at sf1.
    return (TX.exact_dedup(d)
            .select("content_hash", "keeper", "n_copies"))


def q_token_jaccard_dups(spark, sf_dir):
    """Near-dup pairs by distinct-token Jaccard >= 0.9 (n-gram/token
    Jaccard dedup over the documents table)."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    # explode_outer + isNotNull: avoids the inferred size()>0 filter
    # that pushdown would re-evaluate below the scan (see text._tokens)
    toks = (d.select("doc_id",
                     F.explode_outer(F.split(F.trim("text"), "\\s+"))
                     .alias("tok"))
            .where(F.col("tok").isNotNull()).distinct())
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
             .agg(F.count(F.lit(1)).alias("c")))
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("nb"))
    j = (inter.join(sa, "da").join(sb, "db")
         .withColumn("jac", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
         .where(F.col("jac") >= 0.9))
    return j.select("da", "db").orderBy("da", "db")


def q_minhash_candidates(spark, sf_dir):
    """MinHash-LSH near-dup candidates (banded minhash over token
    sets).  Oracle-checkable: the seeded md5 hash family (min over
    fixed-length hex strings = numeric min) is engine-portable, so the
    IDENTICAL signature + banding + pairing pipeline runs in DuckDB —
    full end-to-end verification, not rows-only.  The production
    xxhash64 family (spark_geo.text defaults) is recall-tested against
    exact Jaccard in tests/."""
    from spark_geo import text as TX
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    # rows-per-band = 8: P(candidate) ≈ 1-(1-J^8)^4
    return (TX.lsh_candidate_pairs(d, n_hashes=32, bands=4, hash_mode="md5")
            .orderBy("da", "db"))


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for probe vectors (vec_id<10)
    — JVM-side F.aggregate dot products, no UDF."""
    e = _load(spark, sf_dir, "embeddings")
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.zip_with(c, c, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    # norms are per-ROW quantities: compute them once per side before
    # the cross join instead of once per PAIR (r6, guide §1.2 — the
    # higher-order aggregate expressions are interpreted, so this cuts
    # the per-pair work to the dot product alone; the float values and
    # hence sim_r are identical, just evaluated fewer times)
    probes = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe"),
        norm(F.col("embedding")).alias("_pn"))
    cand = e.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("ce"),
                    norm(F.col("embedding")).alias("_cn"))
    dot = F.aggregate(
        F.zip_with("pe", "ce", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    sim = F.round(dot / (F.col("_pn") * F.col("_cn")), 5)
    pairs = (probes.crossJoin(cand)
             .where(F.col("probe_id") != F.col("neighbor_id"))
             .withColumn("sim_r", sim))
    w = Window.partitionBy("probe_id").orderBy(F.col("sim_r").desc(),
                                               F.col("neighbor_id").asc())
    return (pairs.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)
            .select("probe_id", "neighbor_id", "rk"))


def q_text_quality(spark, sf_dir):
    """Text quality scoring: whitespace + BPE-ish-regex token counts,
    mean chars per language (training-data curation features)."""
    from spark_geo import text as TX
    d = _load(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.trim("text"), "\\s+"))
    return (d.withColumn("ntok", ntok)
            .withColumn("nbpe", TX.bpe_token_count(F.col("text")))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ntok").alias("total_tokens"),
                 F.sum("nbpe").alias("total_bpe_tokens"),
                 F.round(F.avg(F.length("text")), 6).alias("avg_chars_r"))
            .orderBy("lang"))


def q_embedding_norms(spark, sf_dir):
    """Per-label embedding stats (vector column plumbing)."""
    e = _load(spark, sf_dir, "embeddings")
    norm2 = F.aggregate(
        F.zip_with("embedding", "embedding",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    return (e.withColumn("n2", norm2)
            .groupBy("label").agg(F.count(F.lit(1)).alias("n"),
                                  F.round(F.avg(F.sqrt(F.col("n2"))), 5).alias("avg_norm_r"))
            .orderBy("label"))


def q_knn_all_cells(spark, sf_dir):
    """Distributed cell nearest_all (one bound-then-probe pass, all
    ties) — the large✕large kNN plan, oracle-checked against the SQL
    min-distance window."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir).select(
        F.col("c_custkey").alias("left_id"), F.col("point").alias("geom"))
    supp = _supp_points(spark, sf_dir).select(
        F.col("s_suppkey").alias("right_id"), F.col("point").alias("geom"))
    nn = SK.cell_nearest_all(pts, supp, left_geom="geom", right_geom="geom",
                             left_id="left_id", right_id="right_id",
                             res=3, max_rings=16)
    return nn.select(F.col("left_id").alias("c_custkey"),
                     F.col("right_id").alias("s_suppkey"))


def q_knn_mixed_geoms(spark, sf_dir):
    """General-geometry distributed nearest (r4): customer points vs
    nation BOXES through the assume_points=False path — cover-seeded
    cell disks, ids-only shuffles, grouped batch pair distance
    (kernel.batchwkb.batch_distance_one over each batch's decode_runs
    owner stacks, no per-pair Python).  Point-to-axis-box distance has
    the exact GREATEST closed form the oracle reproduces; all ties
    kept."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir).select(
        F.col("c_custkey").alias("left_id"), F.col("point").alias("geom"))
    boxes = _nation_boxes(spark, sf_dir).select(
        F.col("polygon_id").alias("right_id"), "geom")
    nn = SK.cell_nearest_all(pts, boxes, left_geom="geom",
                             right_geom="geom", left_id="left_id",
                             right_id="right_id", res=3, max_rings=16,
                             assume_points=False)
    return (nn.select(F.col("left_id").alias("c_custkey"),
                      F.col("right_id").alias("polygon_id"))
            .orderBy("c_custkey", "polygon_id"))


def q_line_interpolate(spark, sf_dir):
    """line_interpolate_point along a supplier-derived segment at a
    key-derived fraction (reference linear.py:15-53)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    frac = (F.pmod(F.col("s_suppkey"), F.lit(10)) / 10.0)
    line = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("lon"), F.col("lat"), F.col("lon") + 8.0, F.col("lat")))
    p = SG.st_line_interpolate_point(line, frac, normalized=True)
    return s.select("s_suppkey",
                    F.round(SG.st_x(p), 6).alias("px_r"),
                    F.round(SG.st_y(p), 6).alias("py_r")).orderBy("s_suppkey")


def q_simhash_dups(spark, sf_dir):
    """SimHash near-dup pairs over documents.  Oracle-checkable: 64
    bits derived from md5 hex digits (engine-portable) make the bit
    votes, block banding, and hamming verify reproducible in DuckDB
    (hamming() over the bit strings there, bit_count(xor) here)."""
    from spark_geo import text as TX
    d = _load(spark, sf_dir, "documents")
    return (TX.simhash_near_dups(d, max_hamming=16, hash_mode="md5")
            .withColumn("hamming", F.col("hamming").cast("long"))
            .orderBy("da", "db"))


def q_lang_id(spark, sf_dir):
    """Stopword-profile language id counts (rows-only; deterministic)."""
    from spark_geo import text as TX
    d = _load(spark, sf_dir, "documents")
    return (TX.lang_id(d).groupBy("lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n")).orderBy("lang", "lang_pred"))


def q_rasterize_area(spark, sf_dir):
    """rasterize + coverage-dissolve roundtrip: per-polygon tile pieces
    dissolve back to the full box area (raster<->vector invariant)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir).select("polygon_id", "geom")
    r = TL.rasterize(b, res=5)
    d = TL.dissolve_tiles(r, "polygon_id")
    return d.select("polygon_id", F.round("area", 6).alias("area_r")).orderBy("polygon_id")


def q_overlay_areas(spark, sf_dir):
    """Binary overlay (intersection/union/difference/symmetric
    difference — Greiner–Hormann path) on partially overlapping box
    pairs; areas have exact closed forms the oracle reproduces."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    sx = (F.pmod(F.col("n_nationkey"), F.lit(3)) * 15.0 + 5.0)
    sy = (F.pmod(F.col("n_nationkey"), F.lit(2)) * 8.0 + 4.0)
    other = SG.st_make_box(F.col("x0") + sx, F.col("y0") + sy,
                           F.col("x0") + sx + 70.0, F.col("y0") + sy + 34.0)
    return b.select(
        "polygon_id",
        F.round(SG.st_area(SG.st_intersection("geom", other)), 6).alias("inter_r"),
        F.round(SG.st_area(SG.st_union("geom", other)), 6).alias("union_r"),
        F.round(SG.st_area(SG.st_difference("geom", other)), 6).alias("diff_r"),
        F.round(SG.st_area(SG.st_symmetric_difference("geom", other)), 6).alias("symdiff_r"),
    ).orderBy("polygon_id")


def q_line_overlay(spark, sf_dir):
    """Set ops with 0/1-dimensional operands (kernel.lineoverlay, r4 —
    reference set_operations.py:79-131 computes these for any type
    pair): a 45° diagonal and a horizontal line against each nation
    box, plus the line✕line crossing.  All lengths and crossing
    coordinates have exact closed forms (multiples of √2 / lattice
    integers) the oracle reproduces."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    diag = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("x0") - 2.0, F.col("y0") - 2.0,
        F.col("x0") + 40.0, F.col("y0") + 40.0))
    horiz = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("x0") - 5.0, F.col("y0") + 5.0,
        F.col("x0") + 75.0, F.col("y0") + 5.0))
    cross = SG.st_intersection(diag, horiz)
    return b.select(
        "polygon_id",
        F.round(SG.st_length(SG.st_intersection(diag, "geom")), 6)
        .alias("inter_diag_r"),
        F.round(SG.st_length(SG.st_difference(diag, "geom")), 6)
        .alias("diff_diag_r"),
        SG.st_num_geometries(SG.st_difference(diag, "geom")).cast("long")
        .alias("diff_diag_parts"),
        F.round(SG.st_x(cross), 6).alias("cross_x_r"),
        F.round(SG.st_y(cross), 6).alias("cross_y_r"),
        F.round(SG.st_length(SG.st_intersection(horiz, "geom")), 6)
        .alias("inter_horiz_r"),
        F.round(SG.st_length(SG.st_difference(horiz, "geom")), 6)
        .alias("diff_horiz_r"),
        F.round(SG.st_length(SG.st_symmetric_difference(diag, horiz)), 6)
        .alias("sym_len_r"),
    ).orderBy("polygon_id")


def q_gc_overlay(spark, sf_dir):
    """Set ops with MIXED-DIMENSION GEOMETRYCOLLECTION operands
    (kernel.gcoverlay, r5 — per-dimension dispatch; the reference
    itself REFUSES GeometryCollection operands, set_operations.py:
    79-131, so this is strictly-better coverage).  Each nation box
    becomes GC(box, line above the box, point below-left); overlaid
    against a corner-overlapping shifted box.  Areas, total lengths
    (perimeters + clipped line) and part counts have exact closed
    forms: inter 595/144/2, diff 1785/248/3, union 4165/352/3,
    symdiff 3570/456/4."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    gc = SG.st_from_wkt(F.format_string(
        "GEOMETRYCOLLECTION(POLYGON((%.6f %.6f,%.6f %.6f,%.6f %.6f,"
        "%.6f %.6f,%.6f %.6f)),LINESTRING(%.6f %.6f,%.6f %.6f),"
        "POINT(%.6f %.6f))",
        F.col("x0"), F.col("y0"), F.col("x0") + 70.0, F.col("y0"),
        F.col("x0") + 70.0, F.col("y0") + 34.0,
        F.col("x0"), F.col("y0") + 34.0, F.col("x0"), F.col("y0"),
        F.col("x0") - 5.0, F.col("y0") + 40.0,
        F.col("x0") + 75.0, F.col("y0") + 40.0,
        F.col("x0") - 20.0, F.col("y0") - 20.0))
    other = SG.st_make_box(F.col("x0") + 35.0, F.col("y0") + 17.0,
                           F.col("x0") + 105.0, F.col("y0") + 51.0)
    inter = SG.st_intersection(gc, other)
    diff = SG.st_difference(gc, other)
    uni = SG.st_union(gc, other)
    sym = SG.st_symmetric_difference(gc, other)
    return b.select(
        "polygon_id",
        F.round(SG.st_area(inter), 6).alias("inter_area_r"),
        F.round(SG.st_length(inter), 6).alias("inter_len_r"),
        SG.st_num_geometries(inter).cast("long").alias("inter_parts"),
        F.round(SG.st_area(diff), 6).alias("diff_area_r"),
        F.round(SG.st_length(diff), 6).alias("diff_len_r"),
        SG.st_num_geometries(diff).cast("long").alias("diff_parts"),
        F.round(SG.st_area(uni), 6).alias("union_area_r"),
        F.round(SG.st_length(uni), 6).alias("union_len_r"),
        F.round(SG.st_area(sym), 6).alias("sym_area_r"),
        F.round(SG.st_length(sym), 6).alias("sym_len_r"),
        SG.st_num_geometries(sym).cast("long").alias("sym_parts"),
    ).orderBy("polygon_id")


# ---------------------------------------------------------------------------
# long-tail operator queries (round 2): every SURVEY §2.3/2.5/2.8/2.9
# operator name appears in a driver-oracle row, mostly via closed-form
# identities on the deterministic lattice/box fixtures.
# ---------------------------------------------------------------------------

def q_constructive_identities(spark, sf_dir):
    """convex_hull / envelope / boundary / oriented_envelope /
    minimum_bounding_radius / minimum_clearance / point_on_surface /
    build_area / make_valid on nation boxes — all have closed forms
    (hull of a box is the box; boundary length is the perimeter;
    min radius is the half-diagonal; clearance is the short side)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    return b.select(
        "polygon_id",
        F.round(SG.st_area(SG.st_convex_hull("geom")), 6).alias("hull_area_r"),
        F.round(SG.st_area(SG.st_envelope("geom")), 6).alias("env_area_r"),
        F.round(SG.st_length(SG.st_boundary("geom")), 6).alias("boundary_len_r"),
        F.round(SG.st_area(SG.st_oriented_envelope("geom")), 6).alias("oenv_area_r"),
        F.round(SG.st_minimum_bounding_radius("geom"), 6).alias("mbr_r"),
        F.round(SG.st_minimum_clearance("geom"), 6).alias("clearance_r"),
        SG.st_within(SG.st_point_on_surface("geom"), F.col("geom")).alias("pos_inside"),
        F.round(SG.st_area(SG.st_make_valid("geom")), 6).alias("mv_area_r"),
    ).orderBy("polygon_id")


def q_simplify_segmentize(spark, sf_dir):
    """segmentize (densify) then simplify (Douglas-Peucker) round-trip
    on lattice segments: vertex counts and length are closed-form
    (reference constructive.py:712 simplify, :759 segmentize)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    line = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("lon"), F.col("lat"), F.col("lon") + 8.0, F.col("lat")))
    tol = F.pmod(F.col("s_suppkey"), F.lit(3)) + 1  # 1, 2, 3
    dense = SG.st_segmentize_col(line, tol.cast("double"))
    simp = SG.st_simplify_col(dense, F.lit(0.5))
    return s.select(
        "s_suppkey",
        SG.st_num_points(dense).alias("n_dense"),
        SG.st_num_points(simp).alias("n_simplified"),
        F.round(SG.st_length(simp), 6).alias("len_r"),
    ).orderBy("s_suppkey")


def q_hausdorff_frechet(spark, sf_dir):
    """hausdorff_distance / frechet_distance on parallel lattice
    segments offset by a key-derived dy — both equal dy exactly
    (reference measurement.py:180-250)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    dy = (F.pmod(F.col("s_suppkey"), F.lit(7)) + 1).cast("double")
    a = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("lon"), F.col("lat"), F.col("lon") + 8.0, F.col("lat")))
    b = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("lon"), F.col("lat") + dy, F.col("lon") + 8.0, F.col("lat") + dy))
    return s.select(
        "s_suppkey",
        F.round(SG.st_hausdorff_distance(a, b), 6).alias("haus_r"),
        F.round(SG.st_frechet_distance(a, b), 6).alias("frech_r"),
    ).orderBy("s_suppkey")


def q_relate_boxes(spark, sf_dir):
    """relate (DE-9IM) on box pairs in the three canonical
    configurations: overlapping, edge-touching, disjoint (reference
    predicates.py:683-745; golden strings verified in tests/)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    overlap = SG.st_make_box(F.col("x0") + 5.0, F.col("y0") + 4.0,
                             F.col("x0") + 75.0, F.col("y0") + 38.0)
    touch = SG.st_make_box(F.col("x0") + 70.0, F.col("y0"),
                           F.col("x0") + 140.0, F.col("y0") + 34.0)
    disjoint = SG.st_make_box(F.col("x0") + 100.0, F.col("y0"),
                              F.col("x0") + 170.0, F.col("y0") + 34.0)
    return b.select(
        "polygon_id",
        SG.st_relate("geom", overlap).alias("rel_overlap"),
        SG.st_relate("geom", touch).alias("rel_touch"),
        SG.st_relate("geom", disjoint).alias("rel_disjoint"),
    ).orderBy("polygon_id")


def q_accessor_sweep(spark, sf_dir):
    """Accessor surface (§2.3): type id, geom type, dimensions,
    coordinate dimension, num_coordinates, num_points, exterior ring,
    point_n, interior rings of a holed polygon (reference
    geometry.py:56-660)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    holed = SG.st_difference("geom", SG.st_make_box(
        F.col("x0") + 30.0, F.col("y0") + 10.0,
        F.col("x0") + 40.0, F.col("y0") + 20.0))
    ring = SG.st_exterior_ring("geom")
    return b.select(
        "polygon_id",
        SG.st_type_id("geom").alias("type_id"),
        SG.st_geom_type("geom").alias("geom_type"),
        SG.st_dimensions("geom").alias("dims"),
        SG.st_coordinate_dimension("geom").alias("coord_dim"),
        SG.st_num_coordinates("geom").alias("n_coords"),
        SG.st_num_points(ring).alias("n_ring_pts"),
        F.round(SG.st_x(SG.st_point_n(ring, 0)), 6).alias("first_x_r"),
        F.round(SG.st_y(SG.st_point_n(ring, 0)), 6).alias("first_y_r"),
        SG.st_num_interior_rings(holed).alias("n_holes"),
        F.round(SG.st_area(holed), 6).alias("holed_area_r"),
        SG.st_num_geometries("geom").alias("n_geoms"),
    ).orderBy("polygon_id")


def q_z_roundtrip(spark, sf_dir):
    """Z surface: force_3d -> get_z / has_z / coordinate_dimension,
    force_2d back (reference geometry.py:290-315, :819-878)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    zval = F.pmod(F.col("s_suppkey"), F.lit(5)).cast("double")
    p3 = SG.st_force_3d_col(F.col("point"), zval)
    return s.select(
        "s_suppkey",
        F.round(SG.st_z(p3), 6).alias("z_r"),
        SG.st_has_z(p3).alias("has_z3"),
        SG.st_coordinate_dimension(p3).alias("dim3"),
        SG.st_coordinate_dimension(SG.st_force_2d(p3)).alias("dim2"),
        SG.st_has_z(SG.st_force_2d(p3)).alias("has_z2"),
    ).orderBy("s_suppkey")


def q_format_roundtrip(spark, sf_dir):
    """WKT and GeoJSON round-trips preserve geometry exactly on
    integer-coordinate boxes (reference io.py to_wkt/from_wkt,
    to_geojson/from_geojson)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    via_wkt = SG.st_from_wkt(SG.st_as_wkt("geom"))
    via_gj = SG.st_from_geojson(SG.st_as_geojson("geom"))
    return b.select(
        "polygon_id",
        F.round(SG.st_area(via_wkt), 6).alias("wkt_area_r"),
        F.round(SG.st_area(via_gj), 6).alias("gj_area_r"),
        SG.st_geom_type(via_wkt).alias("wkt_type"),
        SG.st_equals_exact("geom", via_wkt).alias("wkt_eq"),
    ).orderBy("polygon_id")


def q_snap_transform(spark, sf_dir):
    """snap (vertex snap to reference) + apply/transform_coords
    (affine shift) — shifted lattice coordinates are closed-form
    (reference constructive.py snap, coordinates.py:9-68 apply)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    ref = SG.st_point(F.round("lon", 0), F.round("lat", 0))
    snapped = SG.st_snap("point", ref, 0.8)  # max lattice offset is hypot(.5,.5)
    shifted = SG.st_transform_coords(F.col("point"),
                                     lambda c: c + __import__("numpy").array([2.0, 3.0]))
    return s.select(
        "s_suppkey",
        F.round(SG.st_x(snapped), 6).alias("snap_x_r"),
        F.round(SG.st_y(snapped), 6).alias("snap_y_r"),
        F.round(SG.st_x(shifted), 6).alias("tx_r"),
        F.round(SG.st_y(shifted), 6).alias("ty_r"),
    ).orderBy("s_suppkey")


def q_validity_normalize(spark, sf_dir):
    """is_valid / is_simple / normalize / reverse / equals_exact:
    a normalized reversed box equals the normalized original
    (reference predicates.py is_valid:210, constructive normalize)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    norm_rev = SG.st_normalize(SG.st_reverse("geom"))
    return b.select(
        "polygon_id",
        SG.st_is_valid("geom").alias("valid"),
        SG.st_is_simple("geom").alias("simple"),
        SG.st_is_empty("geom").alias("empty"),
        SG.st_equals_exact(SG.st_normalize("geom"), norm_rev).alias("norm_eq"),
        SG.st_is_valid_reason("geom").alias("valid_reason"),
    ).orderBy("polygon_id")


def q_triangulate_partition(spark, sf_dir):
    """delaunay_triangles partitions the hull (triangle areas sum to
    the box area); voronoi_polygons yields one cell per input point
    (reference constructive.py:366 delaunay, :832 voronoi)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    corners = SG.st_extract_unique_points("geom")
    tri = SG.st_delaunay_triangles(corners)
    vor = SG.st_voronoi_polygons(corners)
    return b.select(
        "polygon_id",
        F.round(SG.st_area(tri), 6).alias("tri_area_r"),
        SG.st_num_geometries(tri).alias("n_triangles"),
        SG.st_num_geometries(vor).alias("n_cells"),
    ).orderBy("polygon_id")


def q_line_locate_shortest(spark, sf_dir):
    """line_locate_point + shortest_line + distance coherence on
    lattice segments: the point projects at a key-derived fraction,
    and |shortest_line| == distance == 3 (reference linear.py:56-100,
    constructive shortest_line)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    line = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("lon"), F.col("lat"), F.col("lon") + 8.0, F.col("lat")))
    off = F.pmod(F.col("s_suppkey"), F.lit(9)).cast("double")
    pt = SG.st_point(F.col("lon") + off, F.col("lat") + 3.0)
    sl = SG.st_shortest_line(line, pt)
    return s.select(
        "s_suppkey",
        F.round(SG.st_line_locate_point(line, pt), 6).alias("loc_r"),
        F.round(SG.st_length(sl), 6).alias("sl_len_r"),
        F.round(SG.st_distance(line, pt), 6).alias("dist_r"),
    ).orderBy("s_suppkey")


def q_cell_join_pip(spark, sf_dir):
    """Large✕large two-phase cell equi-join (coarse cell candidates ->
    grouped exact refine; the billion✕billion plan) — must produce the
    same pairs as the broadcast-tree PIP join."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir).select(
        F.col("c_custkey").alias("left_id"), F.col("point").alias("geom"))
    layer = _nation_boxes(spark, sf_dir).select(
        F.col("polygon_id").alias("right_id"), "geom")
    j = SJ.cell_spatial_join(pts, layer, predicate="intersects", res=5,
                             left_is_points=True)
    return (j.select(F.col("left_id").alias("c_custkey"),
                     F.col("right_id").alias("polygon_id"))
            .orderBy("c_custkey", "polygon_id"))


def q_cell_join_dwithin(spark, sf_dir):
    """Large✕large dwithin via the cell equi-join (k-ring-expanded
    left cells + grouped distance refine) — must match the brute-force
    distance oracle."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir).select(
        F.col("c_custkey").alias("left_id"), F.col("point").alias("geom"))
    supp = _supp_points(spark, sf_dir).select(
        F.col("s_suppkey").alias("right_id"), F.col("point").alias("geom"))
    j = SJ.cell_spatial_join(pts, supp, predicate="dwithin",
                             distance=DWITHIN_D, res=4, left_is_points=True)
    return (j.select(F.col("left_id").alias("c_custkey"),
                     F.col("right_id").alias("s_suppkey"))
            .orderBy("c_custkey", "s_suppkey"))


def q_cell_join_geoms(spark, sf_dir):
    """Polygon✕polygon two-phase cell join (both sides cell-covered,
    coarse equi-join, vectorized many-vs-one batch refine —
    kernel.batchwkb.batch_predicate_one): supplier boxes against
    nation boxes, all edges exact lattice values so the DuckDB
    interval-overlap twin is bit-identical (touching edges count:
    intersects includes boundary contact on both sides)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    boxes_l = s.select(
        F.col("s_suppkey").alias("left_id"),
        SG.st_make_box(F.col("lon"), F.col("lat"),
                       F.col("lon") + 9.75, F.col("lat") + 7.25).alias("geom"))
    layer = _nation_boxes(spark, sf_dir).select(
        F.col("polygon_id").alias("right_id"), "geom")
    j = SJ.cell_spatial_join(boxes_l, layer, predicate="intersects",
                             res=4, left_is_points=False)
    return (j.select(F.col("left_id").alias("s_suppkey"),
                     F.col("right_id").alias("polygon_id"))
            .orderBy("s_suppkey", "polygon_id"))


def q_cell_join_contains(spark, sf_dir):
    """Containment-family cell join (r4): supplier boxes WITHIN nation
    boxes through the two-phase join's batch containment kernel
    (kernel.batchwkb._containment — vectorized exact-negative
    filter, scalar verify only on survivors; VERDICT r3 item 3).  Box
    nesting has an exact interval oracle; edge-touching nested boxes
    still count (within allows boundary contact)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    boxes_l = s.select(
        F.col("s_suppkey").alias("left_id"),
        SG.st_make_box(F.col("lon"), F.col("lat"),
                       F.col("lon") + 9.75, F.col("lat") + 7.25).alias("geom"))
    layer = _nation_boxes(spark, sf_dir).select(
        F.col("polygon_id").alias("right_id"), "geom")
    j = SJ.cell_spatial_join(boxes_l, layer, predicate="within",
                             res=4, left_is_points=False)
    return (j.select(F.col("left_id").alias("s_suppkey"),
                     F.col("right_id").alias("polygon_id"))
            .orderBy("s_suppkey", "polygon_id"))


def q_cell_join_relate(spark, sf_dir):
    """relate_pattern as a cell-join predicate (r5, VERDICT r4 item 8):
    supplier boxes vs nation boxes with the DE-9IM pattern T*T***T**
    (area/area `overlaps`: interiors meet AND each side has interior
    outside the other).  The refine batch-gates on the vectorized
    intersects kernel and computes the exact DE-9IM matrix
    (kernel/relate.py:211) only for intersecting pairs.  For
    axis-aligned boxes the matrix is pure interval arithmetic, so the
    SQL oracle is exact: open-interval overlap on both axes minus the
    two containment cases (the 70x34 nation box can never sit inside
    the 9.75x7.25 supplier box, but the condition is stated anyway for
    fidelity)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    boxes_l = s.select(
        F.col("s_suppkey").alias("left_id"),
        SG.st_make_box(F.col("lon"), F.col("lat"),
                       F.col("lon") + 9.75, F.col("lat") + 7.25).alias("geom"))
    layer = _nation_boxes(spark, sf_dir).select(
        F.col("polygon_id").alias("right_id"), "geom")
    j = SJ.cell_spatial_join(boxes_l, layer, predicate="relate_pattern",
                             pattern="T*T***T**", res=4,
                             left_is_points=False)
    return (j.select(F.col("left_id").alias("s_suppkey"),
                     F.col("right_id").alias("polygon_id"))
            .orderBy("s_suppkey", "polygon_id"))


# staircase polygon offsets (x, y from the nation slot origin): a
# CONCAVE rectilinear hexagon (40x30 block + 28x16 step) with a 12x12
# hole — every edge at +0.125 so no 0.25-lattice point ever sits on a
# boundary, keeping the SQL twin's strict inequalities unambiguous.
_STAIR_SHELL = [(0.125, 0.125), (68.125, 0.125), (68.125, 16.125),
                (40.125, 16.125), (40.125, 30.125), (0.125, 30.125),
                (0.125, 0.125)]
_STAIR_HOLE = [(8.125, 8.125), (8.125, 20.125), (20.125, 20.125),
               (20.125, 8.125), (8.125, 8.125)]
_STAIR_AREA = 40 * 30 + 28 * 16 - 12 * 12          # 1504
_STAIR_PERIM = (68 + 16 + 28 + 14 + 40 + 30) + 4 * 12  # 244


def _staircase_layer(spark, sf_dir) -> DataFrame:
    """One concave holed polygon per nation, assembled as WKT in
    Catalyst and parsed by st_from_wkt (exercising the parser on
    irregular shapes end-to-end)."""
    b = _nation_boxes(spark, sf_dir)

    def ring(pts):
        return F.concat_ws(", ", *[
            F.concat_ws(" ", F.format_string("%.3f", F.col("x0") + dx),
                        F.format_string("%.3f", F.col("y0") + dy))
            for dx, dy in pts])

    wkt = F.concat(F.lit("POLYGON (("), ring(_STAIR_SHELL),
                   F.lit("), ("), ring(_STAIR_HOLE), F.lit("))"))
    return b.select("polygon_id", SG.st_from_wkt(wkt).alias("geom"))


def q_irregular_pip(spark, sf_dir):
    """Concave + holed polygons end-to-end: customers PIP-joined
    against the staircase layer (ray-cast point path over irregular
    shapes, not boxes), per-polygon point counts plus engine-computed
    area and perimeter — the oracle's closed forms (1504 / 244) check
    the shoelace-with-holes and ring-length kernels exactly."""
    ship_package(spark)
    pts = _cust_points(spark, sf_dir).select("c_custkey", "point")
    layer = _staircase_layer(spark, sf_dir)
    j = SJ.broadcast_spatial_join(pts, layer, predicate="intersects",
                                  left_geom="point", right_id="polygon_id")
    cnt = j.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n_inside"))
    return (layer.select(
                "polygon_id",
                F.round(SG.st_area(F.col("geom")), 6).alias("area_r"),
                F.round(SG.st_length(F.col("geom")), 6).alias("perim_r"))
            .join(cnt, "polygon_id", "left")
            .na.fill({"n_inside": 0})
            .select("polygon_id", "n_inside", "area_r", "perim_r")
            .orderBy("polygon_id"))


def q_coverage_union_area(spark, sf_dir):
    """Binary coverage_union of two disjoint boxes: area is additive
    (reference set_operations.py:401-432)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    other = SG.st_make_box(F.col("x0") + 100.0, F.col("y0"),
                           F.col("x0") + 170.0, F.col("y0") + 34.0)
    cu = SG.st_coverage_union("geom", other)
    return b.select(
        "polygon_id",
        F.round(SG.st_area(cu), 6).alias("cu_area_r"),
        SG.st_num_geometries(cu).alias("n_parts"),
    ).orderBy("polygon_id")


def q_setops_all(spark, sf_dir):
    """Aggregate set-op folds (reference set_operations.py ufunc.reduce
    semantics): symmetric_difference_all of vertically-disjoint box
    groups = their union (additive area); intersection_all of the same
    disjoint groups = empty (area 0)."""
    ship_package(spark)
    from spark_geo import aggregates as AG
    b = _nation_boxes(spark, sf_dir).withColumn(
        "grp", F.pmod(F.col("n_nationkey"), F.lit(5)).cast("long"))
    sd = AG.symmetric_difference_all(b, "grp", "geom") \
        .select("grp", F.round(SG.st_area("geom"), 6).alias("sd_area_r"))
    ia = AG.intersection_all(b, "grp", "geom") \
        .select("grp", F.round(F.coalesce(SG.st_area("geom"), F.lit(0.0)), 6)
                .alias("ia_area_r"))
    cnt = b.groupBy("grp").agg(F.count(F.lit(1)).alias("n_boxes"))
    return (sd.join(ia, "grp").join(cnt, "grp")
            .select("grp", "sd_area_r", "ia_area_r", "n_boxes").orderBy("grp"))


def q_offset_curve_measure(spark, sf_dir):
    """offset_curve of a horizontal segment: length preserved, curve
    shifted to the left side (+y) by the offset distance (reference
    constructive.py:642-682)."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    line = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("lon"), F.col("lat"), F.col("lon") + 8.0, F.col("lat")))
    oc = SG.st_offset_curve(line, 2.0)
    return s.select(
        "s_suppkey",
        F.round(SG.st_length(oc), 6).alias("oc_len_r"),
        F.round(SG.st_y(SG.st_point_n(oc, 0)) - F.col("lat"), 6).alias("oc_dy_r"),
    ).orderBy("s_suppkey")


def q_buffer_styles(spark, sf_dir):
    """Buffer cap/join styles (reference constructive.py:37-46):
    flat/square/round caps on lattice segments, mitre/round joins and
    negative (erode) radii on boxes, single-sided line buffers — all
    closed-form areas."""
    ship_package(spark)
    s = _supp_points(spark, sf_dir)
    line = SG.st_from_wkt(F.format_string(
        "LINESTRING (%.6f %.6f, %.6f %.6f)",
        F.col("lon"), F.col("lat"), F.col("lon") + 8.0, F.col("lat")))
    box = SG.st_make_box(F.col("lon"), F.col("lat"),
                         F.col("lon") + 70.0, F.col("lat") + 34.0)
    return s.select(
        "s_suppkey",
        F.round(SG.st_area(SG.st_buffer(line, 2.0, cap_style="flat")), 6)
        .alias("flat_r"),
        F.round(SG.st_area(SG.st_buffer(line, 2.0, cap_style="square")), 6)
        .alias("square_r"),
        F.round(SG.st_area(SG.st_buffer(line, 2.0, quadsegs=8, cap_style="round")), 6)
        .alias("round_r"),
        F.round(SG.st_area(SG.st_buffer(line, 2.0, single_sided=True)), 6)
        .alias("sside_r"),
        F.round(SG.st_area(SG.st_buffer(box, 2.0, join_style="mitre")), 6)
        .alias("box_mitre_r"),
        F.round(SG.st_area(SG.st_buffer(box, -2.0, join_style="mitre")), 6)
        .alias("box_erode_r"),
        F.round(SG.st_area(SG.st_buffer(box, 2.0, quadsegs=8, join_style="round")), 6)
        .alias("box_round_r"),
    ).orderBy("s_suppkey")


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (training-data dedup
    class): exact threshold pairs, JVM-side dot products — the exact
    baseline the LSH/IVF candidate paths are recall-tested against in
    tests/."""
    e = _load(spark, sf_dir, "embeddings")
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.zip_with(c, c, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    # per-row norms computed once per side, not once per pair (r6 —
    # see q_ann_cosine_topk; identical float values)
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                 norm(F.col("embedding")).alias("_na"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                 norm(F.col("embedding")).alias("_nb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    sim = dot / (F.col("_na") * F.col("_nb"))
    return (a.crossJoin(b).where(F.col("va") < F.col("vb"))
            .withColumn("sim_r", F.round(sim, 5))
            .where(F.col("sim_r") >= 0.3)
            .select("va", "vb", "sim_r").orderBy("va", "vb"))


def q_winnow_dups(spark, sf_dir):
    """Winnowing fingerprint candidate pairs over the documents table.
    Oracle-checkable: the winnowing guarantee (shared substring of
    length >= k+window-1 => shared fingerprint) holds for any k-gram
    hash family, so the md5-k-gram Catalyst variant verifies the whole
    window-min + distinct + equi-join pipeline verbatim in DuckDB; the
    NumPy rolling-hash fast path is substring-guarantee-tested in
    tests/."""
    from spark_geo import text as TX
    d = _load(spark, sf_dir, "documents")
    # The sf parquet is one unsplittable row group, so without the
    # bench's split emulation this scan is ONE task — and the md5
    # k-gram transform is the most CPU-expensive interpreted
    # expression in the suite (~100 s single-threaded at sf0.01, the
    # long pole of the oracle gate).  A real documents table is many
    # splits; spread the 500-row scan explicitly (values unchanged,
    # compare is order-insensitive).
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return (TX.winnow_candidate_pairs(d, k=8, window=4, min_shared=3,
                                      hash_mode="md5")
            .orderBy("da", "db"))


def q_near_dup_keepers(spark, sf_dir):
    """End-to-end near-dup resolution: exact token-Jaccard pairs at
    0.9 -> distributed connected components (min-label propagation) ->
    keeper = min doc id per cluster.  Exact-pair graph on both sides so
    the DuckDB recursive-CTE oracle reproduces it bit-for-bit (the LSH
    candidate path is recall-tested in tests/)."""
    from spark_geo import text as TX
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = TX.jaccard_pairs(d, threshold=0.9)
    comp = TX.connected_components(pairs.select("da", "db"))
    return (d.select("doc_id")
            .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id")).alias("keeper"))
            .orderBy("doc_id"))


def q_srid_roundtrip(spark, sf_dir):
    """set_srid / get_srid EWKB round-trip; geometry values unchanged
    (reference geometry.py:177-235)."""
    ship_package(spark)
    b = _nation_boxes(spark, sf_dir)
    tagged = SG.st_set_srid("geom", 4326)
    return b.select(
        "polygon_id",
        SG.st_srid(tagged).alias("srid"),
        SG.st_srid("geom").alias("srid0"),
        F.round(SG.st_area(tagged), 6).alias("area_r"),
    ).orderBy("polygon_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pip_join_count": q_pip_join_count,
        "pip_contains_pairs": q_pip_contains_pairs,
        "cell_assign": q_cell_assign,
        "tile_rollup": q_tile_rollup,
        "dwithin_join": q_dwithin_join,
        "knn_nearest": q_knn_nearest,
        "total_bounds": q_total_bounds,
        "box_measures": q_box_measures,
        "clip_area": q_clip_area,
        "buffer_area": q_buffer_contains,
        "events_topk": q_events_topk,
        "events_sessionize": q_events_sessionize,
        "dedup_exact": q_dedup_exact,
        "token_jaccard_dups": q_token_jaccard_dups,
        "minhash_candidates": q_minhash_candidates,
        "ann_cosine_topk": q_ann_cosine_topk,
        "text_quality": q_text_quality,
        "embedding_norms": q_embedding_norms,
        "knn_all_cells": q_knn_all_cells,
        "knn_mixed_geoms": q_knn_mixed_geoms,
        "line_interpolate": q_line_interpolate,
        "simhash_dups": q_simhash_dups,
        "lang_id": q_lang_id,
        "rasterize_area": q_rasterize_area,
        "overlay_areas": q_overlay_areas,
        "line_overlay": q_line_overlay,
        "gc_overlay": q_gc_overlay,
        "constructive_identities": q_constructive_identities,
        "simplify_segmentize": q_simplify_segmentize,
        "hausdorff_frechet": q_hausdorff_frechet,
        "relate_boxes": q_relate_boxes,
        "accessor_sweep": q_accessor_sweep,
        "z_roundtrip": q_z_roundtrip,
        "format_roundtrip": q_format_roundtrip,
        "snap_transform": q_snap_transform,
        "validity_normalize": q_validity_normalize,
        "triangulate_partition": q_triangulate_partition,
        "line_locate_shortest": q_line_locate_shortest,
        "cell_join_pip": q_cell_join_pip,
        "cell_join_dwithin": q_cell_join_dwithin,
        "cell_join_geoms": q_cell_join_geoms,
        "cell_join_contains": q_cell_join_contains,
        "cell_join_relate": q_cell_join_relate,
        "irregular_pip": q_irregular_pip,
        "coverage_union_area": q_coverage_union_area,
        "setops_all": q_setops_all,
        "offset_curve_measure": q_offset_curve_measure,
        "buffer_styles": q_buffer_styles,
        "embedding_near_dup": q_embedding_near_dup,
        "winnow_dups": q_winnow_dups,
        "near_dup_keepers": q_near_dup_keepers,
        "srid_roundtrip": q_srid_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    cell_e = cell_sql_expr(CUST_LON, CUST_LAT, RES)
    pcell_e = cell_sql_expr(CUST_LON, CUST_LAT, PARENT_RES)
    return {
        "pip_join_count": f"""
            SELECT n.n_nationkey::BIGINT AS polygon_id, COUNT(*) AS n_points
            FROM customer c JOIN nation n
              ON {CUST_LON} >= {BOX_X0} AND {CUST_LON} <= {BOX_X0} + 70.0
             AND {CUST_LAT} >= {BOX_Y0} AND {CUST_LAT} <= {BOX_Y0} + 34.0
            GROUP BY 1 ORDER BY 1
        """,
        "pip_contains_pairs": f"""
            SELECT c.c_custkey, n.n_nationkey::BIGINT AS polygon_id
            FROM customer c JOIN nation n
              ON {CUST_LON} > {BOX_X0} AND {CUST_LON} < {BOX_X0} + 70.0
             AND {CUST_LAT} > {BOX_Y0} AND {CUST_LAT} < {BOX_Y0} + 34.0
        """,
        "cell_assign": f"""
            SELECT {cell_e} AS cell, COUNT(*) AS n
            FROM customer GROUP BY 1 ORDER BY 1
        """,
        "tile_rollup": f"""
            SELECT {pcell_e} AS parent_cell, COUNT(*) AS n
            FROM customer GROUP BY 1 ORDER BY 1
        """,
        "dwithin_join": f"""
            SELECT c.c_custkey, s.s_suppkey
            FROM customer c, supplier s
            WHERE SQRT(POWER({CUST_LON} - {SUPP_LON}, 2)
                     + POWER({CUST_LAT} - {SUPP_LAT}, 2)) <= {DWITHIN_D}
        """,
        "knn_nearest": f"""
            WITH d AS (
              SELECT c.c_custkey, s.s_suppkey,
                     SQRT(POWER({CUST_LON} - {SUPP_LON}, 2)
                        + POWER({CUST_LAT} - {SUPP_LAT}, 2)) AS dist
              FROM customer c, supplier s),
            rk AS (SELECT c_custkey, s_suppkey, dist,
                          ROW_NUMBER() OVER (PARTITION BY c_custkey
                                             ORDER BY dist ASC, s_suppkey ASC) AS r
                   FROM d)
            SELECT c_custkey, s_suppkey, ROUND(dist, 6) AS dist_r
            FROM rk WHERE r = 1
        """,
        "total_bounds": f"""
            SELECT MIN({CUST_LON}) AS xmin, MIN({CUST_LAT}) AS ymin,
                   MAX({CUST_LON}) AS xmax, MAX({CUST_LAT}) AS ymax
            FROM customer
        """,
        "box_measures": f"""
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(70.0 * 34.0, 6) AS area_r,
                   ROUND(2 * (70.0 + 34.0), 6) AS perimeter_r,
                   ROUND({BOX_X0} + 35.0, 6) AS cx_r,
                   ROUND({BOX_Y0} + 17.0, 6) AS cy_r
            FROM nation ORDER BY 1
        """,
        "clip_area": f"""
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(GREATEST(0.0, LEAST({BOX_X0} + 70.0, 100.0) - GREATEST({BOX_X0}, -100.0))
                       * GREATEST(0.0, LEAST({BOX_Y0} + 34.0, 50.0) - GREATEST({BOX_Y0}, -50.0)), 6)
                     AS clip_area_r
            FROM nation ORDER BY 1
        """,
        "buffer_area": """
            SELECT s_suppkey,
                   ROUND(0.5 * 32 * 4.0 * SIN(2 * PI() / 32), 6) AS buf_area_r
            FROM supplier ORDER BY 1
        """,
        "events_topk": """
            SELECT user_id, event_id, rk FROM (
              SELECT user_id, event_id,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) AS rk
              FROM events) WHERE rk <= 3
        """,
        "events_sessionize": """
            WITH g AS (
              SELECT user_id, event_id,
                     CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts) > 1800.0
                          OR LAG(epoch(ts)) OVER
                            (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS ns
              FROM events)
            SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id
        """,
        "dedup_exact": """
            SELECT sha256(text) AS content_hash, MIN(doc_id) AS keeper,
                   COUNT(*) AS n_copies
            FROM documents GROUP BY text ORDER BY 2
        """,
        "token_jaccard_dups": """
            WITH toks AS (
              SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id,
                           UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
                    FROM documents)),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT da, db
            FROM inter JOIN sizes sa ON da = sa.doc_id
                       JOIN sizes sb ON db = sb.doc_id
            WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.9
            ORDER BY da, db
        """,
        "ann_cosine_topk": """
            WITH sims AS (
              SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                     ROUND(list_dot_product(p.embedding, c.embedding)
                       / (SQRT(list_dot_product(p.embedding, p.embedding))
                        * SQRT(list_dot_product(c.embedding, c.embedding))), 5) AS sim_r
              FROM embeddings p, embeddings c
              WHERE p.vec_id < 10 AND p.vec_id != c.vec_id)
            SELECT probe_id, neighbor_id, rk FROM (
              SELECT probe_id, neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY probe_id
                                        ORDER BY sim_r DESC, neighbor_id ASC) AS rk
              FROM sims) WHERE rk <= 5
        """,
        "text_quality": """
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split_regex(TRIM(text), '\\s+'))) AS BIGINT)
                     AS total_tokens,
                   CAST(SUM(len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+'))) AS BIGINT)
                     AS total_bpe_tokens,
                   ROUND(AVG(LENGTH(text)), 6) AS avg_chars_r
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "embedding_norms": """
            SELECT label, COUNT(*) AS n,
                   ROUND(AVG(SQRT(list_dot_product(embedding, embedding))), 5) AS avg_norm_r
            FROM embeddings GROUP BY label ORDER BY label
        """,
        "knn_all_cells": f"""
            WITH d AS (
              SELECT c.c_custkey, s.s_suppkey,
                     SQRT(POWER({CUST_LON} - {SUPP_LON}, 2)
                        + POWER({CUST_LAT} - {SUPP_LAT}, 2)) AS dist
              FROM customer c, supplier s),
            m AS (SELECT c_custkey, MIN(dist) AS dmin FROM d GROUP BY 1)
            SELECT d.c_custkey, d.s_suppkey
            FROM d JOIN m ON d.c_custkey = m.c_custkey AND d.dist = m.dmin
        """,
        "knn_mixed_geoms": f"""
            WITH d AS (
              SELECT c.c_custkey, n.n_nationkey::BIGINT AS polygon_id,
                     SQRT(POWER(GREATEST({BOX_X0} - {CUST_LON},
                                         {CUST_LON} - ({BOX_X0} + 70.0),
                                         0.0), 2)
                        + POWER(GREATEST({BOX_Y0} - {CUST_LAT},
                                         {CUST_LAT} - ({BOX_Y0} + 34.0),
                                         0.0), 2)) AS dist
              FROM customer c, nation n),
            m AS (SELECT c_custkey, MIN(dist) AS dmin FROM d GROUP BY 1)
            SELECT d.c_custkey, d.polygon_id
            FROM d JOIN m ON d.c_custkey = m.c_custkey AND d.dist = m.dmin
            ORDER BY 1, 2
        """,
        "line_interpolate": f"""
            SELECT s_suppkey,
                   ROUND(ROUND({SUPP_LON}, 6)
                       + 8.0 * ((s_suppkey % 10) / 10.0), 6) AS px_r,
                   ROUND(ROUND({SUPP_LAT}, 6), 6) AS py_r
            FROM supplier ORDER BY 1
        """,
        "rasterize_area": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(70.0 * 34.0, 6) AS area_r
            FROM nation ORDER BY 1
        """,
        "overlay_areas": """
            WITH s AS (
              SELECT n_nationkey::BIGINT AS polygon_id,
                     ((n_nationkey % 3) * 15.0 + 5.0) AS sx,
                     ((n_nationkey % 2) * 8.0 + 4.0) AS sy
              FROM nation)
            SELECT polygon_id,
                   ROUND((70.0 - sx) * (34.0 - sy), 6) AS inter_r,
                   ROUND(2 * 70.0 * 34.0 - (70.0 - sx) * (34.0 - sy), 6) AS union_r,
                   ROUND(70.0 * 34.0 - (70.0 - sx) * (34.0 - sy), 6) AS diff_r,
                   ROUND(2 * (70.0 * 34.0 - (70.0 - sx) * (34.0 - sy)), 6) AS symdiff_r
            FROM s ORDER BY polygon_id
        """,
        "line_overlay": f"""
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(34.0 * sqrt(2.0), 6) AS inter_diag_r,
                   ROUND(8.0 * sqrt(2.0), 6) AS diff_diag_r,
                   CAST(2 AS BIGINT) AS diff_diag_parts,
                   ROUND({BOX_X0} + 5.0, 6) AS cross_x_r,
                   ROUND({BOX_Y0} + 5.0, 6) AS cross_y_r,
                   ROUND(70.0, 6) AS inter_horiz_r,
                   ROUND(10.0, 6) AS diff_horiz_r,
                   ROUND(42.0 * sqrt(2.0) + 80.0, 6) AS sym_len_r
            FROM nation ORDER BY polygon_id
        """,
        "gc_overlay": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(595.0, 6) AS inter_area_r,
                   ROUND(144.0, 6) AS inter_len_r,
                   CAST(2 AS BIGINT) AS inter_parts,
                   ROUND(1785.0, 6) AS diff_area_r,
                   ROUND(248.0, 6) AS diff_len_r,
                   CAST(3 AS BIGINT) AS diff_parts,
                   ROUND(4165.0, 6) AS union_area_r,
                   ROUND(352.0, 6) AS union_len_r,
                   ROUND(3570.0, 6) AS sym_area_r,
                   ROUND(456.0, 6) AS sym_len_r,
                   CAST(4 AS BIGINT) AS sym_parts
            FROM nation ORDER BY polygon_id
        """,
        "constructive_identities": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(2380.0, 6) AS hull_area_r,
                   ROUND(2380.0, 6) AS env_area_r,
                   ROUND(208.0, 6) AS boundary_len_r,
                   ROUND(2380.0, 6) AS oenv_area_r,
                   ROUND(SQRT(70.0*70.0 + 34.0*34.0) / 2.0, 6) AS mbr_r,
                   ROUND(34.0, 6) AS clearance_r,
                   TRUE AS pos_inside,
                   ROUND(2380.0, 6) AS mv_area_r
            FROM nation ORDER BY 1
        """,
        "simplify_segmentize": """
            SELECT s_suppkey,
                   CAST(CEIL(8.0 / ((s_suppkey % 3) + 1)) + 1 AS INTEGER) AS n_dense,
                   CAST(2 AS INTEGER) AS n_simplified,
                   ROUND(8.0, 6) AS len_r
            FROM supplier ORDER BY 1
        """,
        "hausdorff_frechet": """
            SELECT s_suppkey,
                   ROUND(((s_suppkey % 7) + 1) * 1.0, 6) AS haus_r,
                   ROUND(((s_suppkey % 7) + 1) * 1.0, 6) AS frech_r
            FROM supplier ORDER BY 1
        """,
        "relate_boxes": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   '212101212' AS rel_overlap,
                   'FF2F11212' AS rel_touch,
                   'FF2FF1212' AS rel_disjoint
            FROM nation ORDER BY 1
        """,
        "accessor_sweep": f"""
            SELECT n_nationkey::BIGINT AS polygon_id,
                   CAST(3 AS INTEGER) AS type_id,
                   'POLYGON' AS geom_type,
                   CAST(2 AS INTEGER) AS dims,
                   CAST(2 AS INTEGER) AS coord_dim,
                   CAST(5 AS INTEGER) AS n_coords,
                   CAST(5 AS INTEGER) AS n_ring_pts,
                   ROUND({BOX_X0} + 70.0, 6) AS first_x_r,
                   ROUND({BOX_Y0}, 6) AS first_y_r,
                   CAST(1 AS INTEGER) AS n_holes,
                   ROUND(2380.0 - 100.0, 6) AS holed_area_r,
                   CAST(1 AS INTEGER) AS n_geoms
            FROM nation ORDER BY 1
        """,
        "z_roundtrip": """
            SELECT s_suppkey,
                   ROUND((s_suppkey % 5) * 1.0, 6) AS z_r,
                   TRUE AS has_z3,
                   CAST(3 AS INTEGER) AS dim3,
                   CAST(2 AS INTEGER) AS dim2,
                   FALSE AS has_z2
            FROM supplier ORDER BY 1
        """,
        "format_roundtrip": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(2380.0, 6) AS wkt_area_r,
                   ROUND(2380.0, 6) AS gj_area_r,
                   'POLYGON' AS wkt_type,
                   TRUE AS wkt_eq
            FROM nation ORDER BY 1
        """,
        "snap_transform": f"""
            SELECT s_suppkey,
                   ROUND(ROUND({SUPP_LON}), 6) AS snap_x_r,
                   ROUND(ROUND({SUPP_LAT}), 6) AS snap_y_r,
                   ROUND({SUPP_LON} + 2.0, 6) AS tx_r,
                   ROUND({SUPP_LAT} + 3.0, 6) AS ty_r
            FROM supplier ORDER BY 1
        """,
        "validity_normalize": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   TRUE AS valid, TRUE AS simple, FALSE AS empty,
                   TRUE AS norm_eq,
                   'Valid Geometry' AS valid_reason
            FROM nation ORDER BY 1
        """,
        "triangulate_partition": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(2380.0, 6) AS tri_area_r,
                   CAST(2 AS INTEGER) AS n_triangles,
                   CAST(4 AS INTEGER) AS n_cells
            FROM nation ORDER BY 1
        """,
        "line_locate_shortest": """
            SELECT s_suppkey,
                   ROUND((s_suppkey % 9) * 1.0, 6) AS loc_r,
                   ROUND(3.0, 6) AS sl_len_r,
                   ROUND(3.0, 6) AS dist_r
            FROM supplier ORDER BY 1
        """,
        "cell_join_pip": f"""
            SELECT c.c_custkey, n.n_nationkey::BIGINT AS polygon_id
            FROM customer c JOIN nation n
              ON {CUST_LON} >= {BOX_X0} AND {CUST_LON} <= {BOX_X0} + 70.0
             AND {CUST_LAT} >= {BOX_Y0} AND {CUST_LAT} <= {BOX_Y0} + 34.0
            ORDER BY 1, 2
        """,
        "cell_join_dwithin": f"""
            SELECT c.c_custkey, s.s_suppkey
            FROM customer c, supplier s
            WHERE SQRT(POWER({CUST_LON} - {SUPP_LON}, 2)
                     + POWER({CUST_LAT} - {SUPP_LAT}, 2)) <= {DWITHIN_D}
            ORDER BY 1, 2
        """,
        "cell_join_geoms": f"""
            SELECT s.s_suppkey, n.n_nationkey::BIGINT AS polygon_id
            FROM supplier s JOIN nation n
              ON {SUPP_LON} <= {BOX_X0} + 70.0
             AND {BOX_X0} <= {SUPP_LON} + 9.75
             AND {SUPP_LAT} <= {BOX_Y0} + 34.0
             AND {BOX_Y0} <= {SUPP_LAT} + 7.25
            ORDER BY 1, 2
        """,
        "cell_join_contains": f"""
            SELECT s.s_suppkey, n.n_nationkey::BIGINT AS polygon_id
            FROM supplier s JOIN nation n
              ON {SUPP_LON} >= {BOX_X0}
             AND {SUPP_LON} + 9.75 <= {BOX_X0} + 70.0
             AND {SUPP_LAT} >= {BOX_Y0}
             AND {SUPP_LAT} + 7.25 <= {BOX_Y0} + 34.0
            ORDER BY 1, 2
        """,
        "cell_join_relate": f"""
            -- DE-9IM T*T***T** (area/area overlaps) for axis-aligned
            -- boxes: open-interval overlap on both axes AND neither box
            -- contained in the other (closed-interval containment)
            SELECT s.s_suppkey, n.n_nationkey::BIGINT AS polygon_id
            FROM supplier s JOIN nation n
              ON GREATEST({SUPP_LON}, {BOX_X0})
                   < LEAST({SUPP_LON} + 9.75, {BOX_X0} + 70.0)
             AND GREATEST({SUPP_LAT}, {BOX_Y0})
                   < LEAST({SUPP_LAT} + 7.25, {BOX_Y0} + 34.0)
             AND NOT ({SUPP_LON} >= {BOX_X0}
                      AND {SUPP_LON} + 9.75 <= {BOX_X0} + 70.0
                      AND {SUPP_LAT} >= {BOX_Y0}
                      AND {SUPP_LAT} + 7.25 <= {BOX_Y0} + 34.0)
             AND NOT ({BOX_X0} >= {SUPP_LON}
                      AND {BOX_X0} + 70.0 <= {SUPP_LON} + 9.75
                      AND {BOX_Y0} >= {SUPP_LAT}
                      AND {BOX_Y0} + 34.0 <= {SUPP_LAT} + 7.25)
            ORDER BY 1, 2
        """,
        "irregular_pip": f"""
            SELECT p.polygon_id,
                   COUNT(t.c_custkey) AS n_inside,
                   ROUND(1504.0, 6) AS area_r,
                   ROUND(244.0, 6) AS perim_r
            FROM (SELECT n_nationkey::BIGINT AS polygon_id,
                         {BOX_X0} AS x0, {BOX_Y0} AS y0 FROM nation) p
            LEFT JOIN (SELECT c_custkey, {CUST_LON} AS px, {CUST_LAT} AS py
                       FROM customer) t
              ON (((t.px > p.x0 + 0.125 AND t.px < p.x0 + 40.125
                    AND t.py > p.y0 + 0.125 AND t.py < p.y0 + 30.125)
                   OR (t.px > p.x0 + 40.125 AND t.px < p.x0 + 68.125
                       AND t.py > p.y0 + 0.125 AND t.py < p.y0 + 16.125))
                  AND NOT (t.px > p.x0 + 8.125 AND t.px < p.x0 + 20.125
                           AND t.py > p.y0 + 8.125 AND t.py < p.y0 + 20.125))
            GROUP BY p.polygon_id ORDER BY 1
        """,
        "coverage_union_area": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   ROUND(2.0 * 2380.0, 6) AS cu_area_r,
                   CAST(2 AS INTEGER) AS n_parts
            FROM nation ORDER BY 1
        """,
        "setops_all": """
            SELECT (n_nationkey % 5)::BIGINT AS grp,
                   ROUND(2380.0 * COUNT(*), 6) AS sd_area_r,
                   ROUND(0.0, 6) AS ia_area_r,
                   COUNT(*) AS n_boxes
            FROM nation GROUP BY 1 ORDER BY 1
        """,
        "offset_curve_measure": """
            SELECT s_suppkey,
                   ROUND(8.0, 6) AS oc_len_r,
                   ROUND(2.0, 6) AS oc_dy_r
            FROM supplier ORDER BY 1
        """,
        "buffer_styles": """
            SELECT s_suppkey,
                   ROUND(32.0, 6) AS flat_r,
                   ROUND(48.0, 6) AS square_r,
                   ROUND(32.0 + 0.5 * 32 * 4.0 * SIN(2 * PI() / 32), 6) AS round_r,
                   ROUND(16.0, 6) AS sside_r,
                   ROUND(74.0 * 38.0, 6) AS box_mitre_r,
                   ROUND(66.0 * 30.0, 6) AS box_erode_r,
                   ROUND(70.0 * 34.0 + 2 * 2.0 * (70.0 + 34.0)
                       + 0.5 * 32 * 4.0 * SIN(2 * PI() / 32), 6) AS box_round_r
            FROM supplier ORDER BY 1
        """,
        "embedding_near_dup": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
            SELECT a.vec_id AS va, b.vec_id AS vb,
                   ROUND(list_dot_product(a.emb, b.emb)
                     / (SQRT(list_dot_product(a.emb, a.emb))
                      * SQRT(list_dot_product(b.emb, b.emb))), 5) AS sim_r
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
              AND ROUND(list_dot_product(a.emb, b.emb)
                    / (SQRT(list_dot_product(a.emb, a.emb))
                     * SQRT(list_dot_product(b.emb, b.emb))), 5) >= 0.3
            ORDER BY 1, 2
        """,
        "near_dup_keepers": """
            WITH RECURSIVE toks AS (
              SELECT DISTINCT doc_id, tok
              FROM (SELECT doc_id,
                           UNNEST(string_split_regex(TRIM(text), '\\s+')) AS tok
                    FROM documents)),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            pairs AS (
              SELECT da, db
              FROM inter JOIN sizes sa ON da = sa.doc_id
                         JOIN sizes sb ON db = sb.doc_id
              WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.9),
            sym AS (SELECT da AS s, db AS d FROM pairs
                    UNION SELECT db, da FROM pairs),
            reach(s, d) AS (
              SELECT s, d FROM sym
              UNION
              SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
              WHERE e.d <> r.s),
            comp AS (SELECT s AS node, LEAST(s, MIN(d)) AS keeper
                     FROM reach GROUP BY s)
            SELECT doc.doc_id, COALESCE(comp.keeper, doc.doc_id) AS keeper
            FROM documents doc LEFT JOIN comp ON comp.node = doc.doc_id
            ORDER BY 1
        """,
        "srid_roundtrip": """
            SELECT n_nationkey::BIGINT AS polygon_id,
                   CAST(4326 AS INTEGER) AS srid,
                   CAST(0 AS INTEGER) AS srid0,
                   ROUND(2380.0, 6) AS area_r
            FROM nation ORDER BY 1
        """,
        "minhash_candidates": _minhash_oracle_sql(),
        "simhash_dups": _simhash_oracle_sql(),
        "winnow_dups": _winnow_oracle_sql(),
        "lang_id": _lang_id_oracle_sql(),
    }


def _minhash_oracle_sql(n_hashes: int = 32, bands: int = 4) -> str:
    """Verbatim DuckDB twin of TX.lsh_candidate_pairs(hash_mode='md5'):
    seeded-md5 minhash signatures (string MIN on fixed-length hex =
    numeric min), concat-ws band buckets, (band,bucket) self-join."""
    r = n_hashes // bands
    aggs = ",\n                   ".join(
        f"MIN(md5(tok || ':{i}')) AS h{i}" for i in range(n_hashes))
    band_selects = "\n            UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('|', "
        + ", ".join(f"h{b * r + k}" for k in range(r))
        + ") AS bucket FROM sig"
        for b in range(bands))
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents)
            WHERE tok <> ''
        ), sig AS (
            SELECT doc_id, {aggs}
            FROM toks GROUP BY doc_id
        ), banded AS (
            {band_selects}
        )
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        ORDER BY da, db
    """


def _simhash_oracle_sql(max_hamming: int = 16) -> str:
    """DuckDB twin of TX.simhash_near_dups(hash_mode='md5'): 64 bit
    votes from md5 hex digits, 16-bit block banding, hamming verify
    (hamming() over the bit strings = bit_count(xor) on packed longs).
    Bit b = nibble b//4 from the right of md5's first 16 hex digits,
    bit b%4 — identical to the Spark expression."""
    votes = ",\n                   ".join(
        f"SUM((((instr('0123456789abcdef', substr(h16, {16 - b // 4}, 1)) - 1)"
        f" >> {b % 4}) & 1) * 2 - 1) AS v{b}"
        for b in range(64))
    bits = ", ".join(f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END"
                     for b in range(63, -1, -1))
    block_selects = "\n            UNION ALL ".join(
        f"SELECT doc_id, bitstr, {k} AS blk,"
        f" substr(bitstr, {49 - 16 * k}, 16) AS val FROM bits"
        for k in range(4))
    return f"""
        WITH toks AS (
            SELECT doc_id, substr(md5(tok), 1, 16) AS h16 FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents)
            WHERE tok <> ''
        ), votes AS (
            SELECT doc_id, {votes}
            FROM toks GROUP BY doc_id
        ), bits AS (
            SELECT doc_id, concat({bits}) AS bitstr FROM votes
        ), blocks AS (
            {block_selects}
        ), cand AS (
            SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                   x.bitstr AS ba, y.bitstr AS bb
            FROM blocks x JOIN blocks y
              ON x.blk = y.blk AND x.val = y.val AND x.doc_id < y.doc_id
        )
        SELECT da, db, hamming(ba, bb)::BIGINT AS hamming
        FROM cand WHERE hamming(ba, bb) <= {max_hamming}
        ORDER BY da, db
    """


def _winnow_oracle_sql(k: int = 8, window: int = 4, min_shared: int = 3) -> str:
    """DuckDB twin of TX.winnow_candidate_pairs(hash_mode='md5'):
    md5 character-k-gram hashes, sliding-window min, distinct set,
    equi-join on fingerprint with >= min_shared."""
    return f"""
        WITH grams AS (
            SELECT doc_id, CASE WHEN length(text) >= {k}
                THEN list_transform(range(1, length(text) - {k} + 2),
                                    j -> md5(substr(text, j::INT, {k})))
                ELSE []::VARCHAR[] END AS g
            FROM documents
        ), mins AS (
            SELECT doc_id, CASE
                WHEN len(g) >= {window} THEN
                    list_transform(range(1, len(g) - {window} + 2),
                                   j -> list_min(g[j::INT : j::INT + {window - 1}]))
                WHEN len(g) > 0 THEN [list_min(g)]
                ELSE []::VARCHAR[] END AS m
            FROM grams
        ), fps AS (
            SELECT doc_id, unnest(list_distinct(m)) AS fp FROM mins
        )
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*)::BIGINT AS n_shared
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
        ORDER BY 1, 2
    """


def _lang_id_oracle_sql() -> str:
    """DuckDB twin of TX.lang_id: marker-token intersection scores,
    argmax with the same tie-break as Spark's array_max over
    struct(score, lang) — highest score, then lexicographically
    greatest language code; 'und' when no marker hits."""
    from spark_geo.text import _LANG_MARKERS
    values = ",\n                ".join(
        "('{}', [{}])".format(
            lang, ", ".join("'{}'".format(w) for w in words))
        for lang, words in sorted(_LANG_MARKERS.items()))
    return f"""
        WITH docs AS (
            SELECT doc_id, lang,
                   list_distinct(string_split_regex(lower(trim(text)),
                                                    '\\s+')) AS toks
            FROM documents
        ), langs(l, markers) AS (
            VALUES {values}
        ), scored AS (
            SELECT doc_id, lang, l,
                   len(list_intersect(toks, markers)) AS score
            FROM docs CROSS JOIN langs
        ), best AS (
            SELECT doc_id, lang,
                   first(l ORDER BY score DESC, l DESC) AS best_l,
                   max(score) AS best_s
            FROM scored GROUP BY doc_id, lang
        )
        SELECT lang, CASE WHEN best_s > 0 THEN best_l ELSE 'und' END AS lang_pred,
               COUNT(*)::BIGINT AS n
        FROM best GROUP BY 1, 2 ORDER BY 1, 2
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial join + tile assignment on sf0.001 — customer
    points into nation boxes with per-box page... point counts and
    distinct cells (the pipeline's headline shape)."""
    ship_package(spark)
    sf_dir = "/root/testdata/sf0.001"
    pts = _cust_points(spark, sf_dir)
    pts = pts.withColumn("cell", SG.st_cell_lonlat("lon", "lat", RES)) \
             .select(F.col("c_custkey").alias("left_id"), "point", "cell")
    layer = _nation_boxes(spark, sf_dir).select("polygon_id", "geom")
    j = SJ.broadcast_spatial_join(pts, layer, predicate="intersects",
                                  left_geom="point", right_id="polygon_id")
    return (j.groupBy("polygon_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.countDistinct("cell").alias("n_cells"))
            .orderBy("polygon_id"))
