"""Structured Streaming operators: streaming pages -> tile counts.

The reference has no streams (SURVEY.md §1.4); this is the graft's
Spark-native extension: a pages stream (e.g. a crawl landing zone)
geocoded and aggregated into event-time tile windows with late-data
watermarks.  The same geocode/cell expressions as the batch pipeline —
one code path, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import functions as SG
from . import pipeline as PL

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream over a pages landing directory (parquet)."""
    return (spark.readStream
            .schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def stream_tile_counts(pages_stream: DataFrame, res: int = 7,
                       window: str = "10 minutes",
                       watermark: str = "30 minutes") -> DataFrame:
    """Event-time windowed per-cell page counts with a late-data
    watermark — the streaming form of tiles.tile_stats.  The
    ``lon.isNotNull()`` filter reads the two geocoded doubles; it is
    not pushed into the regexp chain (see ``pipeline.geocode``)."""
    pts = PL.geocode(pages_stream).where(F.col("lon").isNotNull())
    cells = pts.withColumn("cell", SG.st_cell_lonlat(F.col("lon"), F.col("lat"), res))
    return (cells.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), F.col("cell"))
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.approx_count_distinct("url").alias("approx_urls"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "cell", "n_pages", "approx_urls"))


def stream_region_counts(pages_stream: DataFrame, layer: DataFrame,
                         res: int = 7, window: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Streaming spatial join: the broadcast-STRtree probe works
    unchanged on a stream (mapInArrow is stream-capable), then
    event-time windowed per-region counts.  The ``lon.isNotNull()``
    filter reads the two geocoded doubles; it is not pushed into the
    regexp chain (see ``pipeline.geocode``)."""
    from . import join as SJ
    pts = PL.geocode(pages_stream).where(F.col("lon").isNotNull())
    joined = SJ.broadcast_lonlat_join(
        pts.select("url", "warc_ts", "lon", "lat"), layer,
        lon="lon", lat="lat", predicate="intersects",
        right_id="polygon_id", cell_res=res, keep=["url", "warc_ts"])
    return (joined.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), F.col("polygon_id"))
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("w.start").alias("window_start"),
                    "polygon_id", "n_pages"))


def stream_sessionize(events: DataFrame, *, user_col: str = "user_id",
                      ts_col: str = "ts", gap_seconds: int = 1800,
                      watermark: str = "1 hour") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user session tracking with an event-time gap.  Emits one row
    per user per micro-batch with the CURRENT session's start, event
    count, and whether the previous session closed this batch —
    arbitrary per-key state the built-in window/session_window
    aggregates cannot express (e.g. carrying the previous session's
    stats forward).

    State per user: (session_start, last_ts, n_events).  A new event
    more than ``gap_seconds`` after last_ts closes the session and
    starts a new one.  State survives micro-batches; an event-time
    timeout (watermark + gap) evicts idle users."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sessions_closed", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("session_start", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sessions_closed", T.LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        ss, lt, n, closed = state.get if state.exists else (None, None, 0, 0)
        rows = []
        for pdf in pdfs:
            ts = pdf[ts_col]
            rows.extend(float(v) for v in
                        (ts.astype("int64") / 1e9 if ts.dtype.kind == "M"
                         else ts.astype("float64")))
        for t in sorted(rows):
            if ss is None:
                ss, lt, n = t, t, 1
            elif t - lt > gap_seconds:
                closed += 1
                ss, lt, n = t, t, 1
            else:
                lt, n = t, n + 1
        state.update((ss, lt, n, closed))
        state.setTimeoutTimestamp(int((lt + gap_seconds) * 1000))
        yield pd.DataFrame({"user_id": [key[0]], "session_start": [ss],
                            "n_events": [n], "sessions_closed": [closed]})

    return (events.withWatermark(ts_col, watermark)
            .groupBy(user_col)
            .applyInPandasWithState(fn, out_schema, state_schema, "update",
                                    GroupStateTimeout.EventTimeTimeout))


def run_to_memory(stream_df: DataFrame, name: str):
    """Test/debug helper: complete-mode memory sink; returns the query
    (caller calls processAllAvailable + stop)."""
    return (stream_df.writeStream.format("memory")
            .queryName(name).outputMode("complete").start())


def run_to_update_memory(stream_df: DataFrame, name: str):
    """Update-mode memory sink (for stateful operators like
    stream_sessionize whose output mode must be 'update')."""
    return (stream_df.writeStream.format("memory")
            .queryName(name).outputMode("update").start())


def stream_exact_dedup(pages_stream: DataFrame, *,
                       text_col: str = "text",
                       ts_col: str = "warc_ts",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication — the ingest-time half of the
    batch dedup family (text.exact_dedup): keep the FIRST arrival of
    each distinct text within the watermark horizon, drop later
    copies.

    Hash-first like the batch operator: the dedup state key is
    sha2(text) (64 hex chars), never the raw text, so the state store
    and the dedup shuffle stay ~72 B/row regardless of document size.
    ``dropDuplicatesWithinWatermark`` bounds state by the event-time
    watermark even though the event-time column is NOT part of the key
    (plain ``dropDuplicates`` on a non-event-time key ignores the
    watermark and its state grows forever — ADVICE r3): a duplicate
    arriving later than the horizon re-admits, the documented trade of
    windowed streaming dedup — exact global dedup is the batch
    operator's job; at 100 TB/day the horizon bounds state to the
    day's distinct hashes."""
    return (pages_stream
            .withColumn("_ch", F.sha2(F.col(text_col), 256))
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_ch"])
            .drop("_ch"))


def stream_quality_filter(pages_stream: DataFrame, *,
                          text_col: str = "text",
                          min_len: int = 200,
                          max_punct_ratio: float = 0.2) -> DataFrame:
    """Streaming form of the batch quality gate (text.quality_scores
    thresholds) — pure Catalyst expressions, so the SAME predicate
    runs in both execution modes with no code fork."""
    t = F.col(text_col)
    punct = F.length(F.regexp_replace(t, "[\\p{L}\\p{N}\\s]", ""))
    return (pages_stream
            .where(t.isNotNull() & (F.length(t) >= min_len))
            .where((punct / F.greatest(F.length(t), F.lit(1)))
                   <= max_punct_ratio))
