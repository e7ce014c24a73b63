"""The Python worker daemon (``brdrq_spark.daemon``): pyspark's per-task
``importlib.invalidate_caches()`` reads each zip archive once and then
only when the file changed, every importer ends the call on its
archive's cached directory, and a file added with ``addPyFile`` after
the session started stays importable."""

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
        real = zipimport._read_directory
        importlib.invalidate_caches.directories.clear()
        reads = [Counter(), Counter()]
        for count in reads:
            def counting(archive, count=count):
                count[archive] += 1
                return real(archive)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = real
        cached = all(
            f._files is zipimport._zip_directory_cache[f.archive]
            is importlib.invalidate_caches.directories[f.archive][1]
            for f in importers
        )
        return Counter(f.archive for f in importers), reads, cached

    per_archive, (first, repeat), cached = _in_worker(spark, probe)
    # pyspark.zip alone has several importers (one per package it serves)
    assert max(per_archive.values()) > 1, per_archive
    assert dict(first) == {a: 1 for a in per_archive}
    assert not repeat
    assert cached


@pytest.mark.skipif(not WRAPPED, reason="3.13 zipimporters re-read lazily")
def test_rewritten_archive_is_reread(monkeypatch, tmp_path):
    import zipimport
    from collections import Counter

    monkeypatch.setattr(importlib, "invalidate_caches", importlib.invalidate_caches)
    daemon.install()
    name = f"brdrq_rewritten_{tmp_path.name.replace('-', '_')}"
    path = tmp_path / "rewritten.zip"

    def write(*modules):
        with zipfile.ZipFile(path, "w") as z:
            for i, m in enumerate(modules):
                z.writestr(f"{name}_{m}.py", f"VALUE = {i}\n")

    write("a")
    monkeypatch.syspath_prepend(str(path))
    for m in ("a", "b"):
        monkeypatch.delitem(sys.modules, f"{name}_{m}", raising=False)
    assert importlib.import_module(f"{name}_a").VALUE == 0
    real = zipimport._read_directory
    reads = Counter()

    def counting(archive):
        reads[archive] += 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads[str(path)] == 1  # read once, then unchanged
    write("a", "b")
    importlib.invalidate_caches()
    assert reads[str(path)] == 2
    assert importlib.import_module(f"{name}_b").VALUE == 1
    sys.path_importer_cache.pop(str(path), None)


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
