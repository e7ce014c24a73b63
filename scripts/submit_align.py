"""spark-submit entrypoint for the distributed alignment job
(north_rule: "run via spark-submit --py-files on a multi-executor
cluster"). Cluster usage:

    cd /root/repo && zip -qr /tmp/brdrq_spark.zip brdrq_spark
    spark-submit --py-files /tmp/brdrq_spark.zip scripts/submit_align.py \\
        --theme s3://bucket/thematic/ --ref s3://bucket/reference/ \\
        --out  s3://bucket/aligned_run1 --rd 2.0 --shards 256

Master, executor count/memory and shuffle sizing come from spark-submit
/ cluster conf; the session factory's local-mode knobs are only applied
when no master is configured. The job is RESUMABLE: re-submitting with
the same --out directory skips every committed shard via the manifest
(sources/manifest.py), which is how a killed run continues without
recomputation. --out must be a POSIX path every resuming driver can
see (NFS / fuse-mounted object store / local disk) — the manifest and
lineage JSON use local file I/O; a bare s3:// URI is rejected up front.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# plain `python scripts/submit_align.py` puts scripts/ (not the repo
# root) on sys.path; spark-submit --py-files ships the package zip, but
# the local/debug invocation needs the repo root like bench.py does.
# Guarded: when the package already resolves (the --py-files zip), the
# shipped version must keep precedence — unconditionally prepending the
# working tree would let an edited checkout silently skew against the
# zip the executors import from.
try:
    import brdrq_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )


def _checkpointed_evaluate(spark, table, theme, ref, cfg, args) -> dict:
    """Resumable sharded prediction sweep: same manifest discipline as
    checkpointed_align, with the evaluator (and its O5 ``auto_step``
    admission control) as the per-shard job. Lineage counts the
    ``blocked_by_area`` sentinel rows so an operator sees how much of a
    shard the admission control excluded."""
    from pyspark.sql import functions as F

    from brdrq_spark.operators.evaluate import evaluate
    from brdrq_spark.sources.manifest import run_partitioned

    keys = [f"shard_{i:03d}" for i in range(args.shards)]
    shard_expr = F.pmod(F.xxhash64(F.col("theme_id")), F.lit(args.shards))

    def make_df(key):
        i = int(key.rsplit("_", 1)[1])
        return evaluate(
            spark,
            theme.filter(shard_expr == i),
            ref,
            max_rd=args.max_rd,
            step=args.step,
            config=cfg,
            broadcast_ref=True if args.broadcast_ref else None,
            auto_step=args.auto_step,
        )

    lineage = {
        "blocked_by_area": F.count_if(F.col("brdr_evaluation") == "blocked_by_area")
    }

    return run_partitioned(
        table, keys, make_df, lineage,
        max_concurrent=max(args.concurrent, 1),
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="brdrq_spark distributed align")
    p.add_argument("--theme", required=True, help="thematic parquet path")
    p.add_argument("--ref", required=True, help="reference parquet path")
    p.add_argument("--out", required=True, help="committed-table output dir")
    p.add_argument("--rd", type=float, nargs="+", default=[2.0],
                   help="relevant distance(s)")
    p.add_argument("--shards", type=int, default=64,
                   help="resumable shard count (manifest partitions)")
    p.add_argument(
        "--od-strategy",
        default="SNAP_ALL_SIDE",
        choices=["EXCLUDE", "AS_IS", "SNAP_SINGLE_SIDE", "SNAP_ALL_SIDE"],
    )
    p.add_argument("--broadcast-ref", action="store_true",
                   help="force broadcast of the reference side")
    p.add_argument("--salt", type=int, default=0,
                   help="explicit hot-cell salting (0 = AQE only)")
    p.add_argument("--emit-metadata", action="store_true",
                   help="emit SOSA actuation lineage per feature")
    p.add_argument("--concurrent", type=int, default=4,
                   help="shard jobs submitted at once (driver threads)")
    p.add_argument("--evaluate", action="store_true",
                   help="run the prediction-sweep evaluator per shard "
                        "instead of a single-rd align")
    p.add_argument("--auto-step", action="store_true",
                   help="evaluate mode: O5 admission control — adaptive "
                        "grid step by feature area and blocked_by_area "
                        "rows above 1e6 m2, mirroring the reference "
                        "featurealigner's interactive default "
                        "(brdrq_dockwidget_featurealigner.py:1272-1299)")
    p.add_argument("--max-rd", type=float, default=5.0,
                   help="evaluate mode: sweep upper bound (meters)")
    p.add_argument("--step", type=float, default=0.1,
                   help="evaluate mode: sweep grid step (ignored when "
                        "--auto-step picks it per area bucket)")
    args = p.parse_args(argv)
    if args.auto_step and not args.evaluate:
        p.error("--auto-step only applies to --evaluate mode")

    from pyspark.sql import SparkSession

    from brdrq_spark.operators.align import AlignConfig
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    # cluster-first: respect whatever master/conf spark-submit provided;
    # a bare `python scripts/submit_align.py` run (no master configured)
    # falls back to the tuned local factory
    try:
        spark = SparkSession.builder.appName("brdrq_spark_align").getOrCreate()
    except Exception:
        from brdrq_spark.session import get_spark

        spark = get_spark("brdrq_spark_align")

    cfg = AlignConfig(
        relevant_distances=list(args.rd),
        od_strategy=args.od_strategy,
        salt=args.salt,
        emit_metadata=args.emit_metadata,
    )
    theme = spark.read.parquet(args.theme)
    ref = spark.read.parquet(args.ref)
    table = CommittedTable(args.out)
    if args.evaluate:
        summary = _checkpointed_evaluate(spark, table, theme, ref, cfg, args)
    else:
        summary = checkpointed_align(
            spark,
            table,
            theme,
            ref,
            cfg,
            n_partitions=args.shards,
            broadcast_ref=True if args.broadcast_ref else None,
            max_concurrent=max(args.concurrent, 1),
        )
    lineage = table.lineage()
    total_rows = sum(r.get("row_count", 0) for r in lineage)
    print(json.dumps({**summary, "total_rows": total_rows,
                      "shards_committed": len(lineage)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
