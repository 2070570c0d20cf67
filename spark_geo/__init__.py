"""spark_geo — a PySpark-native spatial-join + tiling engine.

Re-creates the query/data-processing capabilities of pygeos (vectorized
GEOS ufuncs: predicates, measurements, constructive ops, STRtree
query/query_bulk/nearest_all) as Arrow-vectorized pandas UDFs over
Spark DataFrames — no per-row Python in the hot path — and builds a
from-scratch spatial-join + tiling pipeline on top:

- geometry storage: WKB ``BinaryType`` columns (the reference's own
  canonical serialized form — pygeos hashes/pickles via WKB,
  reference src/pygeom.c:228-261)
- coarse index: deterministic quad-grid cell ids (``spark_geo.kernel.cell``)
- joins: broadcast STRtree (small right side) or two-phase
  cell-equi-join + exact refine (large-large), see ``spark_geo.join``
- kNN: broadcast or single-pass cell nearest_all with all-ties semantics
  (``spark_geo.knn``)
- tiling: raster<->vector per-cell aggregation (``spark_geo.tiles``)
- pages pipeline: geocode Common-Crawl-style pages, salting,
  checkpoint/resume (``spark_geo.pipeline``)

Everything here is built from public knowledge only: the Apache Spark
API, the pygeos reference's *documented behavior* (cited file:line in
docstrings), and standard computational-geometry algorithms.
"""

__version__ = "0.2.0"


def _tune_malloc() -> None:
    """Keep large buffers in the heap arena instead of per-allocation
    mmap.

    glibc hands every allocation over ~128 KB its own mmap and returns
    it to the OS on free, so each NumPy temporary in the vectorized
    kernels re-page-faults its pages.  Page faults are syscalls — they
    serialize in the kernel across worker processes and (on
    syscall-interposing sandboxes) cost ~100x a cached access.
    Measured here: ``np.repeat`` over 1.2M int64 drops from 73 ms to
    0.98 ms with the thresholds raised.  Runs at import time so it
    covers the driver AND every Spark Python worker (they all import
    spark_geo)."""
    try:
        import ctypes
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:
        pass  # non-glibc platform: default allocator behavior


def _gate_zip_invalidation() -> None:
    """Re-read a zip archive's directory on ``invalidate_caches`` only
    when the archive file changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task (``worker_util.setup_spark_files``).  On CPython <= 3.12
    ``zipimporter.invalidate_caches`` then re-reads the archive's whole
    central directory in pure Python, once per zipimporter, and a
    ``local[4]`` worker holds 17 of them: one per package directory
    imported from ``pyspark.zip``, two on the spark-core jar and one on
    the shipped spark_geo zip.  That was about 0.11 s of every Python
    task's fixed cost on a 4-vCPU VM.  CPython 3.13 made the re-read
    lazy, so no gate is installed there.

    The gate stamps each importer with its archive's ``os.stat``
    ``(st_mtime_ns, st_size, st_ino)``, taken just before the read, and
    skips the re-read while the stamp is unchanged.  A zip's directory
    is a function of its bytes, so an unchanged file has an unchanged
    directory and imports stay exact; rewriting or replacing the file
    moves the stamp and the next call re-reads.  A missing or unreadable
    archive takes the original path every time.  Installing also primes
    the importers already in ``sys.path_importer_cache`` (one re-read
    each), so the Spark worker pays once, in the task that first imports
    spark_geo, and no later task pays.  Idempotent."""
    try:
        import sys
        if sys.version_info >= (3, 13):
            return
        import os
        import zipimport
        original = zipimport.zipimporter.invalidate_caches
        if getattr(original, "_spark_geo_gate", False):
            return

        def invalidate_caches(self):
            try:
                st = os.stat(self.archive)
                stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            except OSError:
                stamp = None
            if stamp is None or stamp != getattr(self, "_spark_geo_stamp", None):
                original(self)
                self._spark_geo_stamp = stamp

        invalidate_caches._spark_geo_gate = True
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
    except Exception:
        pass  # leave the interpreter's own behavior in place


_tune_malloc()
_gate_zip_invalidation()
