"""pyspark's Python worker daemon with a cheaper per-task cache reset.

pyspark's worker calls ``importlib.invalidate_caches()`` once per task,
so that a file added with ``SparkContext.addPyFile`` becomes importable.
Before Python 3.13 that makes every zipimporter in the path cache re-read
its archive's directory. A worker holds 16 of them on 3 archives: 12 on
``pyspark.zip``, 2 on the spark-core jar and 2 on the py4j zip, 6,687
directory entries together. One call then takes ~0.2 s on a 4-core box.
``install`` keeps each archive's parsed directory keyed by the file's
``(st_ino, st_size, st_mtime_ns)`` and hands it to the archive's
importers, re-reading the archive only when that key changes: a call
stats 3 files (well under 1 ms in a reused worker). A file added with
``addPyFile`` arrives on a new path and gets a fresh importer, which
reads its own directory. Python 3.13 drops the shared cache lazily
instead, so nothing is installed there.

``session.get_spark`` selects this module with
``spark.python.daemon.module``. The daemon reads its archives once at
start, and the workers it forks inherit the wrapper and its parsed
directories.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Wrap ``importlib.invalidate_caches`` (below Python 3.13 only).
    The wrapper's ``directories`` maps each archive it has read to its
    stat key and parsed directory."""
    if sys.version_info >= (3, 13):
        return
    invalidate = importlib.invalidate_caches
    directories: dict[str, tuple[tuple[int, int, int], dict]] = {}

    def invalidate_caches() -> None:
        read_directory = zipimport._read_directory

        def read_changed(archive):
            try:
                st = os.stat(archive)
            except OSError:
                directories.pop(archive, None)
                return read_directory(archive)  # raises ZipImportError
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
            hit = directories.get(archive)
            if hit is None or hit[0] != key:
                hit = directories[archive] = (key, read_directory(archive))
            return hit[1]

        zipimport._read_directory = read_changed
        try:
            invalidate()
        finally:
            zipimport._read_directory = read_directory

    invalidate_caches.__wrapped__ = invalidate
    invalidate_caches.directories = directories
    importlib.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # read the archives once; forked workers inherit them
    manager()
