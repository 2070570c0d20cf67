"""The zip-directory gate (``spark_geo._gate_zip_invalidation``) and the
per-session shipped zip (``session.ship_package``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; without the gate each call re-reads the central directory of every
zip archive on the worker's path.  The Spark-free tests count
``zipimport._read_directory`` calls on one temporary archive; the worker
test counts them inside tasks of reused Python workers."""

import importlib
import os
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

import spark_geo
from spark_geo import session

GATED = sys.version_info < (3, 13)


@pytest.fixture
def reads(monkeypatch):
    """List that receives the archive path of every directory read."""
    seen = []
    original = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``_zgate_m`` on ``sys.path``."""
    path = str(tmp_path / "gate.zip")
    _write_zip(path, {"_zgate_m": 1})
    monkeypatch.syspath_prepend(path)
    yield path
    sys.path_importer_cache.pop(path, None)
    for mod in ("_zgate_m", "_zgate_m2"):
        sys.modules.pop(mod, None)


@pytest.mark.skipif(GATED, reason="the gate is installed on CPython < 3.13")
def test_no_gate_on_lazy_zipimport():
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "_spark_geo_gate", False)


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 re-reads lazily")
def test_unchanged_archive_is_not_reread(archive, reads):
    assert importlib.import_module("_zgate_m").VALUE == 1
    importlib.invalidate_caches()  # this importer's first gated call reads
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    assert [a for a in reads if a == archive] == []


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 re-reads lazily")
def test_rewritten_archive_is_reread(archive, reads):
    assert importlib.import_module("_zgate_m").VALUE == 1
    importlib.invalidate_caches()
    del reads[:]
    tmp = archive + ".new"
    _write_zip(tmp, {"_zgate_m": 1, "_zgate_m2": 2})
    os.replace(tmp, archive)
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("_zgate_m2").VALUE == 2


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 re-reads lazily")
def test_deleted_archive_takes_original_path(archive, reads):
    assert importlib.import_module("_zgate_m").VALUE == 1
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[archive]
    assert importer._files
    os.remove(archive)
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    # the original path tries to read each time and empties the directory
    assert [a for a in reads if a == archive] == [archive, archive]
    assert importer._files == {}


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 re-reads lazily")
def test_gate_installs_once():
    gated = zipimport.zipimporter.invalidate_caches
    assert gated._spark_geo_gate
    spark_geo._gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is gated


def _stub_session():
    shipped = []
    return SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=shipped.append)), shipped


def test_ship_package_paths_are_per_session():
    (a, shipped_a), (b, shipped_b) = _stub_session(), _stub_session()
    path_a, path_b = session.ship_package(a), session.ship_package(b)
    assert path_a != path_b
    assert shipped_a == [path_a] and shipped_b == [path_b]
    assert os.path.basename(path_a) == os.path.basename(path_b) == "spark_geo_pkg.zip"
    with zipfile.ZipFile(path_a) as z:
        assert "spark_geo/__init__.py" in z.namelist()
    assert session.ship_package(a) == ""  # idempotent per session


@pytest.mark.skipif(not GATED, reason="CPython >= 3.13 re-reads lazily")
def test_reused_workers_do_not_reread_zips(spark):
    """Every task, including the first in a fresh worker process, makes
    no directory read in its own ``importlib.invalidate_caches()``."""
    import pyarrow as pa

    def count_reads(batches):
        # referencing spark_geo makes the task's unpickling import it
        assert spark_geo.__version__
        for _ in batches:
            pass
        seen = []
        original = zipimport._read_directory

        def counting(archive):
            seen.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "zips": [zips], "reads": [len(seen)]})

    rows = (spark.range(8, numPartitions=8)
            .mapInArrow(count_reads, "pid long, zips long, reads long")
            .collect())
    assert len(rows) == 8
    assert all(r.zips > 0 for r in rows), rows
    assert [r.reads for r in rows] == [0] * 8, rows
