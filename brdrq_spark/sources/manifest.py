"""Iceberg-style committed table: Parquet data files + an atomic JSON
snapshot manifest + per-partition lineage rows, enabling
resume-without-recompute (BASELINE.json north_rule: "resumable from
checkpoint with per-partition lineage + metrics"; reference analogue:
incremental GRB actualisation re-aligns only changed parcels,
plugin/brdrq/brdrq_algorithm_autoupdateborders.py:431-450).

No Iceberg jar exists in the sandbox (SURVEY.md §7.0), so the table
format is emulated with the same commit discipline Iceberg uses:

  table_dir/
    data/part_<key>/...parquet      one directory per partition key
    _lineage/part_<key>.json        row counts + stats per partition
    _manifest.json                  atomic snapshot: committed keys

A partition is visible iff its key is in the manifest; half-written
data from a killed run is invisible and re-done on resume. The manifest
write is atomic (os.replace of a temp file). ``resume_filter`` gives the
anti-join set so a restarted job skips committed work.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession


class CommittedTable:
    """Manifest + lineage live on a POSIX filesystem shared by every
    driver that may resume the job (NFS, a fuse-mounted object store,
    or local disk for single-driver runs). A bare object-store URI
    would silently create a ghost local directory instead — rejected
    loudly here; the shard parquet underneath still goes through
    Spark's writers."""

    def __init__(self, path: str):
        if "://" in str(path):
            raise ValueError(
                f"CommittedTable root must be a (shared) POSIX path, got "
                f"{path!r}: the manifest/lineage JSON is written with "
                "local file I/O — mount the object store (fuse/NFS) or "
                "point --out at a shared filesystem"
            )
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.lineage_dir = os.path.join(path, "_lineage")
        self.manifest_path = os.path.join(path, "_manifest.json")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def committed_keys(self) -> set[str]:
        if not os.path.exists(self.manifest_path):
            return set()
        with open(self.manifest_path) as f:
            return set(json.load(f)["partitions"])

    def _write_manifest(self, keys: set[str]) -> None:
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {"partitions": sorted(keys), "committed_at": time.time(),
                 "snapshot_id": uuid.uuid4().hex},
                f,
            )
        os.replace(tmp, self.manifest_path)  # atomic snapshot swap

    # -- commit path --------------------------------------------------------
    def write_partition(self, key: str, df: DataFrame) -> str:
        """Write the shard parquet: the plan's one execution. Row count
        and lineage are observed during this write (``run_partitioned``),
        so neither the upstream kernel nor the written files are read
        again."""
        part_dir = os.path.join(self.data_dir, f"part_{key}")
        df.write.mode("overwrite").parquet(part_dir)
        return part_dir

    def publish_partition(
        self, key: str, row_count: int, lineage: dict | None = None
    ) -> dict:
        """Atomically publish an already-written partition + lineage row.

        The manifest update is a read-modify-write (load keys, add one,
        swap the snapshot), so CONCURRENT committers — driver threads or
        two independent driver processes resuming the same table — must
        serialize around it or the later writer erases the earlier key
        with its stale read. An ``flock`` on a sidecar lock file guards
        the critical section: on Linux the lock is per open file
        description, so it serializes both threads of one driver and
        separate driver processes on a shared POSIX mount (the same
        single-table-committer discipline Iceberg gets from its
        catalog's atomic snapshot CAS).

        Mount requirement: ``flock`` is dependable on local disk and
        NFSv4-class mounts, but on NFSv3 it is emulated (or a no-op)
        by some clients, and fuse object-store mounts may ignore it
        entirely — so a POSIX ``lockf`` record lock is taken on the
        same descriptor as well. Record locks travel over NFSv3's NLM
        protocol, covering the cross-host case flock can miss; flock
        covers same-host threads (one OFD per open), where per-process
        record locks do not conflict. A mount honoring neither (some
        fuse adapters) cannot give multi-DRIVER atomicity — use one
        committing driver per table there (readers are always safe:
        the snapshot swap is os.replace-atomic regardless)."""
        import fcntl

        row = {
            "partition": key,
            "row_count": row_count,
            "committed_at": time.time(),
            **(lineage or {}),
        }
        with open(os.path.join(self.lineage_dir, f"part_{key}.json"), "w") as f:
            json.dump(row, f)
        with open(self.manifest_path + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                fcntl.lockf(lf, fcntl.LOCK_EX)  # NFSv3-safe record lock
                keys = self.committed_keys()
                keys.add(key)
                self._write_manifest(keys)
            finally:
                # closing lf releases the record lock too; explicit
                # unlock keeps the flock/lockf pairing symmetrical
                fcntl.lockf(lf, fcntl.LOCK_UN)
                fcntl.flock(lf, fcntl.LOCK_UN)
        return row

    # -- read path ----------------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        keys = self.committed_keys()
        if not keys:
            raise FileNotFoundError(f"no committed partitions in {self.path}")
        paths = [os.path.join(self.data_dir, f"part_{k}") for k in sorted(keys)]
        return spark.read.parquet(*paths)

    def lineage(self) -> list[dict]:
        out = []
        for k in sorted(self.committed_keys()):
            p = os.path.join(self.lineage_dir, f"part_{k}.json")
            if os.path.exists(p):
                with open(p) as f:
                    out.append(json.load(f))
        return out

    def resume_filter(self, all_keys: list[str]) -> list[str]:
        """Keys still to compute (anti-join against the manifest)."""
        done = self.committed_keys()
        return [k for k in all_keys if k not in done]


def run_partitioned(
    table: CommittedTable,
    keys: list[str],
    make_df,
    lineage: dict[str, Column] | None = None,
    max_concurrent: int = 1,
    todo: list[str] | None = None,
) -> dict:
    """Drive a resumable partitioned job: for every uncommitted key,
    write ``make_df(key)`` and commit it with lineage. Returns summary.
    ``todo``: the uncommitted keys, when the caller already read them
    from the manifest (``table.resume_filter(keys)``).

    ``lineage`` maps lineage field names to aggregate columns. They are
    observed on the shard write (``DataFrame.observe``) together with
    the row count, so each shard runs one job: the write.

    ``max_concurrent`` > 1 submits that many shard jobs at once from
    driver threads (Spark's scheduler interleaves concurrent actions
    across executors) — fine-grained resumable shards then cost no
    cluster utilization between shard boundaries. Manifest publication
    stays serialized behind a lock, so the atomic-snapshot property is
    unchanged."""
    import threading

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if todo is None:
        todo = table.resume_filter(keys)
    done = 0
    publish_lock = threading.Lock()
    metrics = [F.count(F.lit(1)).alias("row_count")] + [
        col.alias(name) for name, col in (lineage or {}).items()
    ]

    def run_one(key: str) -> None:
        nonlocal done
        obs = Observation()
        table.write_partition(key, make_df(key).observe(obs, *metrics))
        lin = obs.get
        n = int(lin.pop("row_count"))
        with publish_lock:
            table.publish_partition(key, n, lin)
            done += 1

    if max_concurrent <= 1:
        for key in todo:
            run_one(key)
    else:
        # fail fast: as_completed + cancel of not-yet-started shards the
        # moment one fails (plain ex.map defers the error until every
        # queued shard has run)
        from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

        with ThreadPoolExecutor(max_concurrent) as ex:
            futures = [ex.submit(run_one, key) for key in todo]
            done_set, pending = wait(futures, return_when=FIRST_EXCEPTION)
            failed = next(
                (f for f in done_set if f.exception() is not None), None
            )
            if failed is not None:
                for f in pending:
                    f.cancel()
                raise failed.exception()
    return {
        "requested": len(keys),
        "skipped_committed": len(keys) - len(todo),
        "computed": done,
    }


def checkpointed_align(
    spark: SparkSession,
    table: CommittedTable,
    theme_df: DataFrame,
    ref_df: DataFrame,
    config=None,
    n_partitions: int = 4,
    broadcast_ref: bool | None = None,
    shard_col: str | None = None,
    max_concurrent: int = 1,
) -> dict:
    """Resumable distributed alignment (north_rule: "resumable from
    checkpoint with per-partition lineage + metrics"): the thematic
    layer splits into ``n_partitions`` deterministic shards (hash of
    theme_id, or ``pmod(shard_col, n)`` when a numeric shard column is
    given — the latter makes shard membership relationally derivable
    for oracle checks), each shard aligns independently and commits
    atomically with lineage rows carrying the cell range, row count and
    alignment stats. A killed run resumes from the manifest and re-does
    only uncommitted shards.

    With more than one shard in flight (``max_concurrent`` and the
    uncommitted shards both > 1), each shard's kernel gets
    ``defaultParallelism // in_flight`` tasks where ``align`` collects
    its theme side (``run_kernel``'s ``share``: the prepared path, theme
    side within the broadcast threshold), coalesced from its local scan
    without a shuffle, so the concurrent shards share the cores in one
    wave instead of each claiming all of them. A lazy theme side and the
    cell-join path keep ``candidate_groups``' partitioning. The share is
    fixed for the run: once fewer shards than ``in_flight`` remain, the
    last ones leave cores idle (with 64 shards at ``max_concurrent=4``,
    the final 1-3 shards run on a quarter of the cores each)."""
    from pyspark.sql import functions as F

    from brdrq_spark.operators.align import AlignConfig, run_kernel

    keys = [f"shard_{i:03d}" for i in range(n_partitions)]
    todo = table.resume_filter(keys)
    config = config or AlignConfig()
    in_flight = min(max_concurrent, len(todo))
    par = spark.sparkContext.defaultParallelism
    share = max(1, par // in_flight) if in_flight > 1 else None
    shard_expr = (
        F.pmod(F.col(shard_col), F.lit(n_partitions))
        if shard_col
        else F.pmod(F.xxhash64(F.col("theme_id")), F.lit(n_partitions))
    )

    def make_df(key):
        i = int(key.rsplit("_", 1)[1])
        shard = theme_df.filter(shard_expr == i)
        if shard_col:
            shard = shard.drop(shard_col)
        return run_kernel(spark, shard, ref_df, config, broadcast_ref, share=share)

    lineage = {
        "cell_min": F.min(F.array_min("cell_ids")),
        "cell_max": F.max(F.array_max("cell_ids")),
        "avg_sym_perc": F.round(F.avg("brdr_sym_diff_area_index_perc"), 4),
        "total_area": F.round(F.sum("brdr_area"), 2),
    }

    return run_partitioned(
        table, keys, make_df, lineage, max_concurrent=max_concurrent, todo=todo
    )
