"""The pages pipeline: Common-Crawl-style input table → geocode →
cell-encode → spatial join → tiles, with skew salting and
checkpoint/resume (BASELINE.json north_star / north_rule).

Input schema (BASELINE.json input_hint):
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Invariant: extracted ``text`` is byte-identical per url — extraction
is a JVM-side regexp over the html body, and nothing downstream
rewrites it (verified by ``text_identity_violations``).

Everything before the probe stays JVM-side (regexp extraction, casts)
so Catalyst can push filters/pruning into the scan; only the lon/lat
doubles enter Python, Arrow-batched, for the probe + cell assignment.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import join as SJ
from .kernel import wkb as K_wkb
from .kernel.geom import Geom

HOT_CITIES = [(-74.0060, 40.7128), (2.3522, 48.8566), (139.6917, 35.6895)]
LANGS = ["en", "de", "fr", "es", "pt"]


# ---------------------------------------------------------------------------
# deterministic synthetic pages (FIXTURES.md §1; seedless pure arithmetic)
# ---------------------------------------------------------------------------

def synth_pages(spark: SparkSession, n: int, hot_frac_denom: int = 5,
                partitions: int | None = None) -> DataFrame:
    """Deterministic CC-style pages table from ``spark.range`` — pure
    column arithmetic (LCG-style hashing), so any scale factor is
    reproducible with no external data and no Python row loop.

    20% of rows (id % hot_frac_denom == 0) cluster around 3 hot cities
    to exercise salting (FIXTURES.md §1 skew knob)."""
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    u1 = (F.pmod(F.col("id") * 48271 + 7, F.lit(1000003)) / 1000003.0)
    u2 = (F.pmod(F.col("id") * 16807 + 3, F.lit(999983)) / 999983.0)
    base_lon = u1 * 360.0 - 180.0
    base_lat = u2 * 180.0 - 90.0
    hot = F.pmod(F.col("id"), F.lit(hot_frac_denom)) == 0
    city = F.pmod(F.col("id"), F.lit(3))
    hot_lon = (F.when(city == 0, HOT_CITIES[0][0])
               .when(city == 1, HOT_CITIES[1][0])
               .otherwise(HOT_CITIES[2][0]) + (u1 - 0.5))
    hot_lat = (F.when(city == 0, HOT_CITIES[0][1])
               .when(city == 1, HOT_CITIES[1][1])
               .otherwise(HOT_CITIES[2][1]) + (u2 - 0.5) * 0.5)
    lon = F.round(F.when(hot, hot_lon).otherwise(base_lon), 4)
    lat = F.round(F.when(hot, hot_lat).otherwise(base_lat), 4)
    lang = (F.when(F.pmod("id", F.lit(5)) == 0, LANGS[0])
            .when(F.pmod("id", F.lit(5)) == 1, LANGS[1])
            .when(F.pmod("id", F.lit(5)) == 2, LANGS[2])
            .when(F.pmod("id", F.lit(5)) == 3, LANGS[3])
            .otherwise(LANGS[4]))
    text = F.format_string(
        "Page %d reports on a site located at %.4f,%.4f with further notes.",
        F.col("id"), lat, lon)
    return df.select(
        F.format_string("https://site%d.example/page/%d",
                        F.pmod("id", F.lit(1000)), F.col("id")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("warc_ts"),
        F.encode(F.format_string("<html><body>%s</body></html>", text), "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


# ---------------------------------------------------------------------------
# extraction + geocoding (JVM-side; no Python until point construction)
# ---------------------------------------------------------------------------

def extract_text(df: DataFrame, html_col: str = "html",
                 out_col: str = "extracted_text") -> DataFrame:
    """html -> body text via JVM regexp (byte-identical invariant)."""
    return df.withColumn(
        out_col,
        F.regexp_extract(F.decode(F.col(html_col), "UTF-8"),
                         "<body>(.*)</body>", 1))


def text_identity_violations(df: DataFrame) -> int:
    """Count rows where extracted text != original text (must be 0 —
    the per-row invariant vs the reference, BASELINE.json input_hint)."""
    e = extract_text(df)
    return e.where(F.col("extracted_text") != F.col("text")).count()


GEO_PATTERN = r"located at (-?\d+\.\d+),(-?\d+\.\d+)"


def _geotags(text):
    """The first 'located at <lat>,<lon>' geotag of ``text`` as two
    double expressions (lat, lon), NULL without a tag.  ONE regexp
    match per row: the full match is split on the comma with plain
    string ops (group 1/2 of GEO_PATTERN are exactly the
    comma-separated halves of the match after the 11-char
    'located at ' prefix)."""
    m = F.regexp_extract(text, GEO_PATTERN, 0)
    body = F.substring(m, 12, 2_000_000)        # strip 'located at '
    lat = F.substring_index(body, ",", 1)
    lon = F.substring_index(body, ",", -1)
    return (F.when(lat != "", lat.cast("double")),
            F.when(lon != "", lon.cast("double")))


def geocode(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract 'located at <lat>,<lon>' geotags (deterministic regex
    gazetteer per SURVEY.md §2.11); rows without a tag get NULL lat/lon
    and are dropped from joins downstream (inner-join semantics).
    ``lat``/``lon`` are added (or replaced in place) as by
    ``withColumn``.

    The regexp is evaluated ONCE per row, whatever filter is put on
    the output later.  The two doubles are projected once as private
    columns and re-emitted as ``lat``/``lon`` by a one-row generator,
    ``stack(1, ...)``.  Catalyst cannot substitute a Generate's output
    attributes into a predicate, so a filter on ``lat``, ``lon`` or
    anything derived from them (the ``cell`` of
    ``tiles.assign_cells``, a ``tile_stats(...).where(cell >= 0)``)
    stops above the Generate and reads two doubles.  Without it the
    filter is pushed below the Project and inlined with the whole
    regexp chain, which then runs again in the Project."""
    lat, lon = _geotags(F.col(text_col))
    return (df.withColumns({"_geo_lat": lat, "_geo_lon": lon})
              .select("*", F.expr("stack(1, _geo_lat, _geo_lon) AS (_geo_y, _geo_x)"))
              .withColumns({"lat": F.col("_geo_y"), "lon": F.col("_geo_x")})
              .drop("_geo_lat", "_geo_lon", "_geo_y", "_geo_x"))


# ---------------------------------------------------------------------------
# polygon layer (FIXTURES.md §2)
# ---------------------------------------------------------------------------

def make_world_layer(spark: SparkSession, nx: int = 24, ny: int = 12) -> DataFrame:
    """Deterministic polygon layer: nx✕ny boxes tiling the lon/lat
    domain, plus a concave polygon, one with a hole, one EMPTY and one
    NULL row (the tree must drop the last two, strtree.c:182-199)."""
    rows = []
    w, h = 360.0 / nx, 180.0 / ny
    pid = 0
    for j in range(ny):
        for i in range(nx):
            g = Geom.box(-180 + i * w, -90 + j * h, -180 + (i + 1) * w, -90 + (j + 1) * h)
            rows.append((pid, f"region{pid}", K_wkb.dumps(g)))
            pid += 1
    concave = Geom(3, rings=[__import__("numpy").array(
        [[-10, -10], [10, -10], [10, 10], [0, 0], [-10, 10], [-10, -10]], dtype=float)])
    rows.append((pid, "concave", K_wkb.dumps(concave))); pid += 1
    holed = Geom.polygon([(20, 20), (40, 20), (40, 40), (20, 40), (20, 20)],
                         holes=[[(25, 25), (35, 25), (35, 35), (25, 35), (25, 25)]])
    rows.append((pid, "holed", K_wkb.dumps(holed))); pid += 1
    rows.append((pid, "empty", K_wkb.dumps(Geom(3)))); pid += 1
    rows.append((pid + 1, "null", None))
    schema = T.StructType([
        T.StructField("polygon_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("geom", T.BinaryType()),
    ])
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# skew handling (explicit, per north_rule — beyond AQE)
# ---------------------------------------------------------------------------

def hot_cells(df: DataFrame, cell_col: str = "cell", threshold: int = 100_000) -> DataFrame:
    """Detect persistent hot cells (cities) by count."""
    return df.groupBy(cell_col).count().where(F.col("count") >= threshold)


def salt_hot_cells(left: DataFrame, right: DataFrame, hot: DataFrame,
                   cell_col: str = "cell", buckets: int = 16):
    """Explicit salting: hot left rows get cell⊕salt; the (small) right
    side is replicated ``buckets``✕ for hot cells only.  Join the two
    returned frames on 'salted_cell'."""
    hot_set = F.broadcast(hot.select(cell_col).withColumn("_is_hot", F.lit(True)))
    l = (left.join(hot_set, cell_col, "left")
         .withColumn("_salt",
                     F.when(F.col("_is_hot"), F.pmod(F.xxhash64("url"), F.lit(buckets)))
                     .otherwise(F.lit(0)))
         .withColumn("salted_cell",
                     F.concat_ws(":", F.col(cell_col).cast("string"),
                                 F.col("_salt").cast("string")))
         .drop("_is_hot"))
    salts = left.sparkSession.range(buckets).select(F.col("id").alias("_salt"))
    r_hot = (right.join(hot_set, cell_col, "inner").crossJoin(F.broadcast(salts)))
    r_cold = (right.join(hot_set, cell_col, "left_anti")
              .withColumn("_salt", F.lit(0)))
    r = (r_hot.drop("_is_hot").unionByName(r_cold)
         .withColumn("salted_cell",
                     F.concat_ws(":", F.col(cell_col).cast("string"),
                                 F.col("_salt").cast("string"))))
    return l, r


# ---------------------------------------------------------------------------
# flagship job + checkpoint/resume
# ---------------------------------------------------------------------------

def _page_pairs(pages: DataFrame, layer: DataFrame, res: int,
                keep: list[str] | None = None) -> DataFrame:
    """geotags → one lon/lat probe: ``keep`` columns + cell + polygon_id
    per (tagged page, polygon) hit — the one pair plan behind
    ``flagship`` and ``run_with_checkpoint``.  No isNotNull filter on
    lon/lat: the probe drops NULL/NaN rows in the worker itself.  The
    tags are ``geocode``'s expressions without its generator: the
    probe's ``mapInArrow`` already keeps any later filter away from
    the regexp chain, so the Generate would only add per-row work."""
    lat, lon = _geotags(F.col("text"))
    return SJ.broadcast_lonlat_join(
        pages.withColumns({"lat": lat, "lon": lon}), layer, lon="lon",
        lat="lat", predicate="intersects", right_geom="geom",
        right_id="polygon_id", cell_res=res, keep=keep)


def flagship(pages: DataFrame, layer: DataFrame, res: int = 7) -> DataFrame:
    """The headline query: geocode pages → cells + broadcast STRtree
    join to the polygon layer → per-region page counts.

    Exactly ONE Python crossing (probe + cell assignment fused in a
    single mapInArrow over two double columns — ~16 bytes/row through
    Arrow; geocode regexes and the final aggregate stay JVM-side), one
    shuffle (the final groupBy)."""
    return (_page_pairs(pages, layer, res).groupBy("polygon_id")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("cell").alias("n_cells")))


def run_with_checkpoint(pages: DataFrame, layer: DataFrame, out_dir: str,
                        res: int = 7, num_parts: int = 64,
                        key_col: str = "url") -> dict:
    """Resumable flagship run with per-bucket lineage + metrics.

    - rows are bucketed by ``pmod(xxhash64(url), num_parts)``; the
      flagship's pair plan (one Python crossing over lon/lat doubles)
      writes ``part_id, url, lang, cell, polygon_id`` with a per-write
      dynamic partition overwrite, so re-running an interrupted bucket
      is idempotent and the session config is left alone
    - ``manifest.json`` records completed buckets (zero-row ones too);
      a rerun processes only the remainder.  It is replaced atomically
      via ``.tmp`` + ``os.replace``; a leftover ``.tmp`` is ignored
    - per-bucket row counts, read from the parquet footers on the
      driver (no re-read job; ``out_dir`` must be local), and the run's
      wall time are appended to ``metrics.jsonl``."""
    if num_parts < 1:
        raise ValueError(f"num_parts must be >= 1, got {num_parts}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    done: set[int] = set()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            done = set(json.load(f)["completed_parts"])
    processed = sorted(set(range(num_parts)) - done)
    data_dir = os.path.join(out_dir, "data")
    t0 = time.time()
    if processed:
        work = pages.withColumn("part_id", F.pmod(F.xxhash64(key_col), F.lit(num_parts)))
        if done:
            work = work.where(F.col("part_id").isin(processed))
        (_page_pairs(work, layer, res, keep=["part_id", "url", "lang"])
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("part_id").parquet(data_dir))
    elapsed = time.time() - t0
    with open(os.path.join(out_dir, "metrics.jsonl"), "a") as f:
        for k in processed:
            d = os.path.join(data_dir, f"part_id={k}")
            rows = (pads.dataset(d, format="parquet").count_rows()
                    if os.path.isdir(d) else 0)
            f.write(json.dumps({"part_id": k, "rows": rows,
                                "run_elapsed_sec": elapsed}) + "\n")
    with open(manifest_path + ".tmp", "w") as f:
        json.dump({"completed_parts": sorted(done | set(processed))}, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return {"processed_parts": processed, "elapsed_sec": elapsed,
            "resumed_from": len(done)}
