"""pyspark's Python worker daemon with a cheaper per-task cache reset.

pyspark's worker calls ``importlib.invalidate_caches()`` once per task,
so that a file added with ``SparkContext.addPyFile`` becomes importable.
Before Python 3.13 that makes every zipimporter in the path cache re-read
its archive's directory. A worker holds 16 of them on 3 archives: 12 on
``pyspark.zip``, 2 on the spark-core jar and 2 on the py4j zip. One call
then takes ~0.2 s on a 4-core box. ``install`` makes one call read each
archive once and give that fresh directory to all of the archive's
importers (~55 ms); every importer still ends the call with a freshly
read directory. Python 3.13 drops the shared cache lazily instead, so
nothing is installed there.

``session.get_spark`` selects this module with
``spark.python.daemon.module``; the workers the daemon forks inherit the
wrapper.
"""

from __future__ import annotations

import importlib
import sys
import zipimport


def install() -> None:
    """Wrap ``importlib.invalidate_caches`` (below Python 3.13 only)."""
    if sys.version_info >= (3, 13):
        return
    invalidate = importlib.invalidate_caches

    def invalidate_caches() -> None:
        read_directory = zipimport._read_directory
        fresh: dict[str, dict] = {}

        def read_once(archive):
            if archive not in fresh:
                fresh[archive] = read_directory(archive)
            return fresh[archive]

        zipimport._read_directory = read_once
        try:
            invalidate()
        finally:
            zipimport._read_directory = read_directory

    invalidate_caches.__wrapped__ = invalidate
    importlib.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
