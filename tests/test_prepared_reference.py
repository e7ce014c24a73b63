"""PreparedReference lifecycle: one build per reference DataFrame, shared
by repeated align calls and concurrent shard threads, rebuilt only after
an explicit release() or once the DataFrame is gone. Also how a small
theme side executes on it: read once, and a one-theme request aligned in
the driver with a single Spark job."""

import gc
import sys
import threading

import pytest
from pyspark.sql import functions as F

from brdrq_spark.operators import align as align_mod
from brdrq_spark.operators.align import AlignConfig, align, prepare_reference
from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

CFG = AlignConfig(relevant_distances=[2.0])


@pytest.fixture
def broadcasts(spark, monkeypatch):
    """Values passed to SparkContext.broadcast while the test runs."""
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def counting(value):
        made.append(value)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    return made


def _tables(spark, n=6):
    ref = spark.createDataFrame(reference_parcels(8, 8, seed=6))
    # one input partition: the prepared path then repartitions the themes,
    # the shape of a one-theme request read from a parquet file
    th = spark.createDataFrame(thematic_polygons(n, 8, 8, seed=6)).coalesce(1)
    return th, ref


def _job_ids(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_second_align_runs_no_reference_job(spark, broadcasts):
    th, ref = _tables(spark)
    first = sorted(align(spark, th, ref, CFG, broadcast_ref=True).collect())
    assert len(broadcasts) == 1
    second = []
    jobs = _job_ids(
        spark,
        "brdrq_second_align",
        lambda: second.extend(align(spark, th, ref, CFG, broadcast_ref=True).collect()),
    )
    assert len(broadcasts) == 1  # the reference was not collected again
    assert 1 <= len(jobs) <= 2, jobs
    assert sorted(second) == first


def test_one_theme_align_runs_one_job(spark):
    """On a warmed reference, a one-theme request runs only the theme
    collect: the kernel runs in the driver and the result is a local
    relation, so collecting it runs no job."""
    th, ref = _tables(spark)
    align(spark, th, ref, CFG, broadcast_ref=True).collect()
    one = th.where(F.col("theme_id") == th.first().theme_id)
    rows = []
    jobs = _job_ids(
        spark,
        "brdrq_one_theme",
        lambda: rows.extend(align(spark, one, ref, CFG, broadcast_ref=True).collect()),
    )
    assert len(jobs) == 1, jobs
    assert sorted(rows) == sorted(align(spark, one, ref, CFG, broadcast_ref=False).collect())


@pytest.mark.parametrize(
    "auto_step, ref_key_col",
    [(False, None), (True, None), (False, "claimed_ref")],
    ids=["False", "True", "by_id"],
)
def test_one_theme_evaluate_runs_one_job(spark, auto_step, ref_key_col):
    """The feature aligner's click, a one-feature ``evaluate(max_rd=5,
    step=0.1)``, runs only the theme collect on a warmed reference: the
    kernel sweeps and scores the theme in the driver (with ``auto_step``
    its area too, with ``ref_key_col`` its by-id label) and the result is
    a local relation."""
    from brdrq_spark.operators.evaluate import evaluate

    th, ref = _tables(spark)
    # each theme claims the parcel it was jittered from
    th = th.withColumn("claimed_ref", F.concat(F.lit("44000"), "src_parcel"))
    one = th.where(F.col("theme_id") == th.first().theme_id)

    def run(broadcast_ref=True):
        return evaluate(
            spark, one, ref, max_rd=5.0, step=0.1, auto_step=auto_step,
            broadcast_ref=broadcast_ref, ref_key_col=ref_key_col,
        ).collect()

    run()
    rows = []
    jobs = _job_ids(
        spark, f"brdrq_one_theme_evaluate_{auto_step}_{ref_key_col}",
        lambda: rows.extend(run()),
    )
    assert len(jobs) == 1, jobs
    assert rows and sorted(rows) == sorted(run(broadcast_ref=False))


def test_theme_side_runs_once_per_align(spark):
    """The theme plan runs exactly once per align call, on the in-driver
    (one theme) and the collected (several themes) paths: a Python UDF
    on the theme side counts the rows it sees."""
    th, ref = _tables(spark)
    seen = spark.sparkContext.accumulator(0)

    def touch(wkb):
        seen.add(1)
        return wkb

    touch_udf = F.udf(touch, "binary")
    ids = [r.theme_id for r in th.select("theme_id").collect()]
    for n in (1, len(ids)):
        themes = th.where(F.col("theme_id").isin(ids[:n])).withColumn(
            "geom_wkb", touch_udf("geom_wkb")
        )
        before = seen.value
        assert len(align(spark, themes, ref, CFG, broadcast_ref=True).collect()) == n
        assert seen.value - before == n


def test_checkpointed_align_one_theme_shards_align_in_driver_threads(
    spark, tmp_path, monkeypatch
):
    """Two shards of one theme each, committed concurrently: both kernels
    run in driver threads at the same time (a barrier that only two
    concurrent callers pass), and the committed rows match the shuffle
    path's."""
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    th = spark.createDataFrame(
        thematic_polygons(2, 8, 8, seed=6).assign(shard=[0, 1])
    )
    ref = spark.createDataFrame(reference_parcels(8, 8, seed=6))
    both_running = threading.Barrier(2, timeout=60)
    threads = []
    real = align_mod._make_kernel

    def in_step(*args):
        kernel = real(*args)

        def run(pdf):
            threads.append(threading.current_thread())
            both_running.wait()
            return kernel(pdf)

        return run

    def committed(name, bref):
        table = CommittedTable(str(tmp_path / name))
        summary = checkpointed_align(
            spark, table, th, ref, CFG, n_partitions=2, broadcast_ref=bref,
            shard_col="shard", max_concurrent=2,
        )
        assert summary["computed"] == 2
        return sorted(table.read(spark).collect())

    expected = committed("shuffle", False)
    monkeypatch.setattr(align_mod, "_make_kernel", in_step)
    got = committed("prepared", True)
    assert len(threads) == 2 and threading.main_thread() not in threads
    assert got == expected and len(got) == 2


def test_release_rebuilds_and_gc_frees(spark, broadcasts):
    th, ref = _tables(spark)
    prepared = prepare_reference(spark, ref, CFG)
    assert prepare_reference(spark, ref, CFG) is prepared
    assert len(prepared.broadcast.value["ids"]) == 64
    prepared.release()
    align(spark, th, ref, CFG, broadcast_ref=True).collect()
    assert len(broadcasts) == 2
    rebuilt = prepare_reference(spark, ref, CFG)
    assert rebuilt is not prepared
    # once the DataFrame goes away the finalizer unpersists the broadcast,
    # and a result planned before still runs
    lazy = align(spark, th, ref, CFG, broadcast_ref=True)
    finalizer = rebuilt._finalizer
    del ref, rebuilt
    gc.collect()
    assert not finalizer.alive
    assert len(lazy.collect()) == 6


def test_checkpointed_align_shards_share_one_broadcast(spark, tmp_path, broadcasts):
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    th, ref = _tables(spark, n=12)
    summary = checkpointed_align(
        spark, CommittedTable(str(tmp_path / "t")), th, ref, CFG,
        n_partitions=2, broadcast_ref=True, max_concurrent=2,
    )
    assert summary["computed"] == 2
    assert len(broadcasts) == 1


def test_concurrent_prepare_builds_once(spark, broadcasts):
    """More threads than cores ask for the same layer at once, with a
    short switch interval: one build, one shared instance."""
    _, ref = _tables(spark)
    got = []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=lambda: got.append(prepare_reference(spark, ref, CFG)))
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert len(got) == 8 and all(p is got[0] for p in got)
    assert len(broadcasts) == 1


def _new_ungrouped_jobs(spark, fn):
    """Jobs without a job group that ``fn`` runs: the shard threads of
    checkpointed_align do not inherit one."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    return set(tracker.getJobIdsForGroup(None)) - before


def test_checkpointed_align_runs_two_jobs_per_shard(spark, tmp_path):
    """On a warmed reference each shard runs the theme collect and the
    write, nothing else: row count and lineage are observed on the
    write, and they equal the aggregates of the written parquet. A
    resumed run computes nothing."""
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    th, ref = _tables(spark, n=12)
    align(spark, th, ref, CFG, broadcast_ref=True).collect()
    table = CommittedTable(str(tmp_path / "t"))

    def run():
        return checkpointed_align(
            spark, table, th, ref, CFG, n_partitions=2, broadcast_ref=True,
            max_concurrent=2,
        )

    summary = {}
    jobs = _new_ungrouped_jobs(spark, lambda: summary.update(run()))
    assert summary["computed"] == 2
    assert len(jobs) == 2 * 2, jobs

    for lin in table.lineage():
        written = spark.read.parquet(table.data_dir + f"/part_{lin['partition']}")
        want = written.agg(
            F.count(F.lit(1)).alias("row_count"),
            F.min(F.array_min("cell_ids")).alias("cell_min"),
            F.max(F.array_max("cell_ids")).alias("cell_max"),
            F.round(F.avg("brdr_sym_diff_area_index_perc"), 4).alias("avg_sym_perc"),
            F.round(F.sum("brdr_area"), 2).alias("total_area"),
        ).first().asDict()
        assert want["row_count"] > 0
        assert {k: lin[k] for k in want} == want
    assert sum(r["row_count"] for r in table.lineage()) == 12

    resumed = {}
    assert not _new_ungrouped_jobs(spark, lambda: resumed.update(run()))
    assert resumed["computed"] == 0 and resumed["skipped_committed"] == 2


def test_concurrent_shards_run_one_wave_of_kernel_tasks(spark, tmp_path, monkeypatch):
    """Two shards committed concurrently split the cores: together they
    launch at most defaultParallelism kernel tasks, so none waits for a
    core, and they commit the rows and lineage of a sequential run."""
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    th, ref = _tables(spark, n=12)
    tasks = tmp_path / "tasks"
    tasks.mkdir()
    real = align_mod.probe_stream

    def counted(*args, **kwargs):
        stream = real(*args, **kwargs)

        def run(batches):
            import os
            import uuid

            open(os.path.join(str(tasks), uuid.uuid4().hex), "w").close()
            yield from stream(batches)

        return run

    def committed(name, conc):
        table = CommittedTable(str(tmp_path / name))
        summary = checkpointed_align(
            spark, table, th, ref, CFG, n_partitions=2, broadcast_ref=True,
            max_concurrent=conc,
        )
        assert summary["computed"] == 2
        lineage = [{k: v for k, v in r.items() if k != "committed_at"} for r in table.lineage()]
        return sorted(table.read(spark).collect()), lineage

    sequential = committed("seq", 1)
    monkeypatch.setattr(align_mod, "probe_stream", counted)
    assert committed("par", 2) == sequential
    assert 2 <= len(list(tasks.iterdir())) <= spark.sparkContext.defaultParallelism


def test_concurrent_shards_share_cores_only_on_a_collected_theme_side(
    spark, tmp_path, monkeypatch
):
    """Concurrent shards hand ``run_kernel`` their share of the cores,
    and only a collected theme side applies it: its kernel runs in
    ``share`` partitions. A lazy theme side keeps at least
    defaultParallelism, and the cell-join path 4 x defaultParallelism."""
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    th, ref = _tables(spark, n=12)
    real = align_mod.run_kernel
    kernels = []

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        kernels.append(out)
        return out

    monkeypatch.setattr(align_mod, "run_kernel", spy)

    def partitions(name, broadcast_ref):
        kernels.clear()
        checkpointed_align(
            spark, CommittedTable(str(tmp_path / name)), th, ref, CFG,
            n_partitions=2, broadcast_ref=broadcast_ref, max_concurrent=2,
        )
        return [df.rdd.getNumPartitions() for df in kernels]

    par = spark.sparkContext.defaultParallelism
    share = max(1, par // 2)
    assert partitions("collected", True) == [share, share]
    assert partitions("shuffle", False) == [4 * par, 4 * par]
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        lazy = partitions("lazy", True)
        assert len(lazy) == 2 and min(lazy) >= par, lazy
    finally:
        spark.conf.set(key, old)


def test_checkpointed_align_empty_shard_commits_zero_rows(spark, tmp_path):
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    th = spark.createDataFrame(
        thematic_polygons(4, 8, 8, seed=6).assign(shard=[0, 0, 1, 1])
    )
    ref = spark.createDataFrame(reference_parcels(8, 8, seed=6))
    table = CommittedTable(str(tmp_path / "t"))
    summary = checkpointed_align(
        spark, table, th, ref, CFG, n_partitions=3, broadcast_ref=True,
        shard_col="shard", max_concurrent=3,
    )
    assert summary["computed"] == 3
    lineage = {r["partition"]: r for r in table.lineage()}
    assert [lineage[k]["row_count"] for k in sorted(lineage)] == [2, 2, 0]
    empty = lineage["shard_002"]
    assert empty["cell_min"] is None and empty["total_area"] is None
    assert table.read(spark).count() == 4
