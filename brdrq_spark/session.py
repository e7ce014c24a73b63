"""SparkSession factory tuned for the sandbox (local[N]) but written for
cluster scale: AQE on, Arrow on, sane shuffle partition counts.

Reference analogue: the QGIS plugin runs everything on the main thread
(FlagNoThreading, plugin/brdrq/brdrq_algorithm_autocorrectborders.py:197-198);
we replace that with executor parallelism and keep determinism by keying
every reduce.

The driver JVM compiles with C1 only (``-XX:TieredStopAtLevel=1``, as
``spark.driver.defaultJavaOptions``). Its jobs are short and mostly
wait on Python workers, so C2's optimized code rarely repays C2's
compile threads, which take cores from the kernel tasks: on a warmed
image pass (24 footprints, 4 cores) the compiler threads took 1.29 of
the driver JVM's 3.27 CPU-s, and 0.35 of 1.47 CPU-s with C1 only
(``scripts/job_census.py --run``). Python workers run under
``brdrq_spark.daemon``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_GIB = 24


def driver_memory(physical_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half the machine's physical memory
    (``os.sysconf``), at least 1g and at most 24g. A local-mode driver
    heap is the whole engine's heap; one sized above the machine loses
    the JVM to the OS instead of raising a Java ``OutOfMemoryError``."""
    if physical_bytes is None:
        try:
            physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):
            return f"{_MAX_DRIVER_GIB}g"
    return f"{max(1, min(_MAX_DRIVER_GIB, physical_bytes // 2 // 2**30))}g"


def get_spark(
    app_name: str = "brdrq_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores, the driver heap
    to $SPARK_GRAFT_DRIVER_MEM or ``driver_memory()``. The driver JVM
    runs with ``-XX:TieredStopAtLevel=1`` (C1 only) through
    ``spark.driver.defaultJavaOptions``; ``extra_conf`` overrides it and
    any other option. On a real cluster the master/memory settings come
    from spark-submit; every option set here is safe to override there.
    Options that start the JVM apply only when this call starts it.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # ~2x cores in local mode; a cluster job would size this to
        # target ~128MB shuffle blocks instead.
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # geometry kernels are compute-heavy per BYTE of shuffle data: the
        # default 1MB minimum partition size would coalesce a whole
        # applyInPandas stage into 1-2 partitions and serialize the Python
        # workers. shuffle.partitions is already sized to ~2x cores here;
        # on a real cluster, re-raise this to trade scheduler overhead
        # for fewer, larger IO-bound partitions.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # sandbox tables are single small parquet files; the default 4MB
        # open-cost makes Spark scan them with 1-4 tasks and serializes
        # whole queries. On a cluster with >=128MB files these values
        # produce the same splits as the defaults.
        .config("spark.sql.files.openCostInBytes", "524288")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory())
        .config("spark.ui.enabled", "false")
        # pyspark's daemon, with a per-task import-cache reset that
        # re-reads a zip archive only when the file changed (daemon.py);
        # workers must be able to import brdrq_spark
        .config("spark.python.daemon.module", "brdrq_spark.daemon")
        # C1 only (module docstring). Spark puts these options before
        # spark.driver.extraJavaOptions, so a caller's heap or GC flags
        # still apply.
        .config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
