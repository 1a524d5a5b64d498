"""Zip importers re-read their archive on ``importlib.invalidate_caches()``
only when it changed (``_zipstamp``): in-process on a zip built here, and
inside PySpark's Python workers."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from mpower_feature_analysis_spark import _zipstamp


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Counts zipimport's archive-directory reads."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipstamp_mod_a": "X = 1\n"})
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    yield archive
    sys.path_importer_cache.pop(archive, None)
    for name in ("zipstamp_mod_a", "zipstamp_mod_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread_and_a_changed_one_is(
        zip_on_path, reads, monkeypatch):
    # a plain zipimporter, as a worker holds one before the package loads
    monkeypatch.setattr(sys, "path_hooks", [
        zipimport.zipimporter if h is _zipstamp.StampedZipImporter else h
        for h in sys.path_hooks])
    assert importlib.import_module("zipstamp_mod_a").X == 1
    assert type(sys.path_importer_cache[zip_on_path]) is zipimport.zipimporter
    _zipstamp.install()
    assert type(sys.path_importer_cache[zip_on_path]) is _zipstamp.StampedZipImporter
    reads.clear()  # the import's own read
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(zip_on_path, {"zipstamp_mod_a": "X = 1\n",
                             "zipstamp_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module("zipstamp_mod_b").Y == 2


def test_new_path_gets_a_stamped_importer(zip_on_path, reads):
    """An archive put on the path after install (``addPyFile``) is read on
    its first invalidation, then only when it changes."""
    _zipstamp.install()
    assert importlib.import_module("zipstamp_mod_a").X == 1
    assert type(sys.path_importer_cache[zip_on_path]) is _zipstamp.StampedZipImporter
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 2  # construction + first invalidation


def test_python_workers_reread_no_unchanged_archive(spark):
    """In a task of a worker that imported the package, every zip importer
    is stamped and invalidate_caches() reads no archive directory."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import time
        import zipimport

        import mpower_feature_analysis_spark  # noqa: F401  installs the stamp

        real, n = zipimport._read_directory, []
        zipimport._read_directory = lambda a: (n.append(a), real(a))[1]
        try:
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms = (time.perf_counter() - t0) * 1e3
        finally:
            zipimport._read_directory = real
        importers = [i for i in sys.path_importer_cache.values()
                     if isinstance(i, zipimport.zipimporter)]
        plain = sum(type(i) is zipimport.zipimporter for i in importers)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "ms": [ms], "reads": [len(n)], "zips": [len(importers)],
            "plain": [plain]})

    df = spark.range(0, 8, numPartitions=8)
    schema = "ms double, reads long, zips long, plain long"
    df.mapInArrow(probe, schema).collect()
    rows = df.mapInArrow(probe, schema).collect()
    assert len(rows) == 8
    assert all(r.zips > 0 for r in rows), rows  # pyspark.zip, py4j, jars
    assert all(r.plain == 0 and r.reads == 0 for r in rows), rows
