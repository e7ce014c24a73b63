"""The Python worker daemon (``brdrq_spark.daemon``): pyspark's per-task
``importlib.invalidate_caches()`` reads each zip archive once, every
importer still ends the call with a fresh directory, and a file added
with ``addPyFile`` after the session started stays importable."""

import importlib
import sys
import zipfile

import pytest

from brdrq_spark import daemon

WRAPPED = sys.version_info < (3, 13)


def _in_worker(spark, fn):
    return spark.sparkContext.parallelize([0], 1).map(lambda _: fn()).collect()[0]


def test_python_task_sees_wrapper(spark):
    def probe():
        import importlib

        return hasattr(importlib.invalidate_caches, "__wrapped__")

    assert _in_worker(spark, probe) is WRAPPED


@pytest.mark.skipif(not WRAPPED, reason="3.13 zipimporters re-read lazily")
def test_invalidate_caches_reads_each_archive_once(spark):
    def probe():
        import importlib
        import sys
        import zipimport
        from collections import Counter

        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in importers]
        reads = Counter()
        real = zipimport._read_directory

        def counting(archive):
            reads[archive] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        fresh = all(
            f._files is zipimport._zip_directory_cache[f.archive]
            and f._files is not old
            for f, old in zip(importers, before)
        )
        return Counter(f.archive for f in importers), reads, fresh

    per_archive, reads, fresh = _in_worker(spark, probe)
    # pyspark.zip alone has several importers (one per package it serves)
    assert max(per_archive.values()) > 1, per_archive
    assert dict(reads) == {a: 1 for a in per_archive}
    assert fresh


def test_add_py_file_importable_in_later_task(spark, tmp_path):
    sc = spark.sparkContext
    _in_worker(spark, lambda: 0)  # the worker's caches exist before the file
    name = f"brdrq_added_{tmp_path.name.replace('-', '_')}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(path))

    def probe():
        import importlib

        return importlib.import_module(name).VALUE

    assert _in_worker(spark, probe) == 42


def test_not_installed_from_python_313(monkeypatch):
    original = importlib.invalidate_caches
    monkeypatch.setattr(importlib, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    daemon.install()
    assert importlib.invalidate_caches is original
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    daemon.install()
    assert importlib.invalidate_caches.__wrapped__ is original
    importlib.invalidate_caches()  # still runs in this process
