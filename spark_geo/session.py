"""SparkSession factory with the engine's standard configs."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> str:
    """Ship spark_geo to the executors' Python workers as a zip — the
    programmatic equivalent of ``spark-submit --py-files spark_geo.zip``
    (north_star deployment requirement).  Idempotent per session.

    Each session writes its zip into its own ``mkdtemp`` directory,
    removed when the interpreter exits: a path shared between processes
    lets one process overwrite the zip another is shipping, so a worker
    could import a half-written zip or another checkout's spark_geo."""
    if getattr(spark, "_spark_geo_shipped", False):
        return ""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zdir = tempfile.mkdtemp(prefix="spark_geo_pkg_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "spark_geo_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("spark_geo", os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark._spark_geo_shipped = True
    return zpath


def get_spark(cores: int | None = None, shuffle_partitions: int | None = None,
              app: str = "spark_geo", extra: dict | None = None) -> SparkSession:
    """local[N] session tuned for the engine: AQE on (runtime skew-join
    splitting), Arrow on (vectorized pandas UDFs), shuffle partitions
    sized to cores not the 200 default."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GEO_DRIVER_MEM", "24g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
