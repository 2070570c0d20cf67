"""Sources / sinks for the pages + layers tables (SURVEY.md §2.1).

The production input is an Iceberg table of Common-Crawl-style pages
(BASELINE.json input_hint); this container has no Iceberg catalog jars,
so ``read_pages`` negotiates: explicit format > iceberg-if-available >
parquet.  Either way the engine only ever expresses *declarative* scans
— filters and column selections stay in the plan so Catalyst pushes
them into the source (verify with ``df.explain``: PushedFilters /
ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, path_or_table: str,
               fmt: str = "auto") -> DataFrame:
    """Read the pages table.  ``fmt``: 'iceberg' | 'parquet' | 'auto'.

    Never cache or collect here — downstream filters (lang,
    geotag presence) must reach the scan."""
    if fmt == "auto":
        fmt = "iceberg" if (not os.path.exists(path_or_table)
                            and iceberg_available(spark)) else "parquet"
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path_or_table)
    return spark.read.parquet(path_or_table)


def write_pages(df: DataFrame, path_or_table: str, fmt: str = "parquet",
                partition_by: list[str] | None = None) -> None:
    """Write pages-shaped data.  Default partitioning: lang (low
    cardinality, prunes the dominant filter at 100 TB)."""
    partition_by = partition_by or ["lang"]
    if fmt == "iceberg":
        df.writeTo(path_or_table).partitionedBy(*[F.col(c) for c in partition_by]) \
          .createOrReplace()
        return
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path_or_table)


def write_tiles(df: DataFrame, path: str, parent_res: int = 2,
                cell_col: str = "cell") -> None:
    """Tile sink: partition by a coarse parent cell so tile-range reads
    prune to the touched region (partition pruning ≙ spatial pruning)."""
    from . import functions as SG
    (df.withColumn("cell_prefix", SG.st_cell_parent(F.col(cell_col), parent_res))
       .write.mode("overwrite").partitionBy("cell_prefix").parquet(path))


def read_tiles(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_bucketed_by_cell(df: DataFrame, table: str, n_buckets: int = 64,
                           cell_col: str = "cell",
                           sort_within: bool = True) -> None:
    """Persist a cell-keyed table BUCKETED (and sorted) by the cell id.

    Two tables bucketed by the same key with the same bucket count
    equi-join WITHOUT a shuffle on either side — the pre-partitioning
    that makes repeated cell joins (daily pages ⋈ static layer cover)
    exchange-free at 100 TB.  Buckets land in the session catalog's
    warehouse as parquet."""
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, cell_col)
    if sort_within:
        w = w.sortBy(cell_col)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table; joins on its bucket key skip the
    exchange (requires spark.sql.sources.bucketing.enabled, default
    true)."""
    return spark.table(table)
