"""Benchmark of record for brdrq_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, starts a local[nproc] session and warms it up (set-up), runs the
workload's operation in a closed loop with one client thread for
``--seconds`` (at least the workload's minimum number of operations),
checks every output, and prints one ``name = value unit`` line per
metric followed by a last line of JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports the per-layer metrics: spans around every layer
call, Spark's event log of the session, and one-off layer probes after
the loop. The spans are written to .perfbench_out/ as JSON.
Exits non-zero when any check fails or the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "1g"
LAYER_SPANS = ("align", "footprints", "manifest")


def load_spec() -> dict:
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


def spark_env(root: str, work: str) -> None:
    """Environment the driver JVM and its Python workers inherit: the
    engine comes from PYTHONPATH, scratch space stays inside ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def spark_conf(work: str, event_log: bool) -> dict:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # a fixed, pre-touched heap: the JVM's resident size then stops
        # depending on when the garbage collector grows the heap, which
        # otherwise moves peak memory by ~20% between identical runs
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def start_session(wl, args, work: str, event_log: bool):
    """Session start + warm-up pass: the set-up a user pays before the
    first operation. Returns (spark, start seconds, set-up seconds,
    warm-up digests)."""
    from brdrq_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=os.cpu_count() or 1,
                      extra_conf=spark_conf(work, event_log))
    started = time.perf_counter() - t0
    wl.load(spark)
    digests = wl.warmup(spark)
    setup = time.perf_counter() - t0
    print(f"set-up: start {started:.2f} s, total {setup:.2f} s", file=sys.stderr, flush=True)
    return spark, started, setup, digests


def run(args, work: str) -> dict:
    from tracing import RssSampler, Tracer, percentile
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)  # input generation: not set-up
    sampler = RssSampler().start()
    spark = None
    next_op = 0
    try:
        spark, started, setup, warm_digests = start_session(wl, args, work,
                                                           event_log=bool(args.trace))

        tracer = Tracer(args.trace, spark.sparkContext if args.trace else None)
        walls, digests, errors = [], [], []
        features, attempted, failed = 0, 0, 0
        remarks: Counter = Counter()
        t_loop = time.perf_counter()
        with tracer.span("run"):
            while time.perf_counter() - t_loop < args.seconds or attempted < wl.min_ops:
                attempted += 1
                try:
                    with tracer.span("op", request=next_op):
                        wall, digest, n, errs, rem = wl.op(spark, next_op, tracer)
                except Exception as e:  # a failed operation is counted, not fatal
                    errs, digest, n, rem, wall = [f"op {next_op}: {e!r}"], None, 0, Counter(), None
                next_op += 1
                if errs:
                    failed += 1
                    errors += errs
                    continue
                print(f"op {next_op - 1}: {wall:.3f} s", file=sys.stderr, flush=True)
                walls.append(wall)
                features += n
                remarks.update(rem)
                if digest is not None:
                    digests.append(digest)
        loop_wall = time.perf_counter() - t_loop
        print(f"loop: {attempted} operations in {loop_wall:.2f} s", file=sys.stderr, flush=True)

        # outputs repeat exactly across repetitions of the same input: the
        # warm-up's own repetitions, and for batch workloads every pass
        ds = warm_digests + digests
        bad = sum(d != ds[0] for d in ds)
        if bad:
            failed += bad
            errors.append(f"output digest differs in {bad} of {len(ds)} repetitions")
        if args.trace:
            with tracer.span("probes"):
                probe = wl.probes(spark, tracer)
        check_errors = wl.run_checks(spark)
        if check_errors:
            failed += 1
            attempted += 1
            errors += check_errors
        spark.stop()
        spark = None
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()
        peak = sampler.stop()

    failed = min(failed, attempted)
    res = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "ops": len(walls),
    }
    res["peak_rss_mb"] = peak / 2**20
    if not args.trace:
        p50 = statistics.median(walls) if walls else 0.0
        res["metrics"] = {
            "setup_s": setup,
            "features_per_s": features / len(walls) / p50 if walls else 0.0,
            "latency_p50_s": p50,
            "latency_tail_s": percentile(walls, load_spec()["tail_percentile"]) if walls else 0.0,
        }
        res["error_rate"] = failed / attempted
        return res
    res["metrics"] = layer_metrics(wl, tracer, probe, work, started, walls, remarks,
                                   loop_wall, res["peak_rss_mb"])
    return res


def layer_metrics(wl, tracer, probe, work, started, walls, remarks, loop_wall,
                  peak_mb) -> dict:
    """Every per-layer metric of a traced run, from its spans, its Spark
    event log and the probes; also writes the spans to .perfbench_out/."""
    from tracing import attribute_jobs, jobs_under, read_event_log, stage_stats

    spec = load_spec()
    logs = [f for f in os.listdir(os.path.join(work, "eventlog")) if not f.endswith(".inprogress")]
    log = read_event_log(os.path.join(work, "eventlog", logs[0]))
    spans = tracer.closed()
    attributed = attribute_jobs(log, spans)

    def ids(*names):
        return {s["id"] for s in spans if s["name"] in names}

    op_jobs = set(jobs_under(ids("op"), spans, attributed))
    op_jobs -= set(jobs_under(ids("bench.check"), spans, attributed))
    per_op = stage_stats(log, sorted(op_jobs))
    full = stage_stats(log, jobs_under(ids("align.full"), spans, attributed))
    everything = stage_stats(log, list(log["jobs"]))
    n_ops = max(len(walls), 1)
    in_loop = set(ids("run"))
    for s in spans:  # spans are recorded parent-first
        if s["parent"] in in_loop:
            in_loop.add(s["id"])
    self_s = tracer.self_times()
    accounted = sum(self_s[s["id"]] for s in spans if s["id"] in in_loop
                    and (s["name"] in LAYER_SPANS or s["name"].startswith("bench.")))
    p50 = statistics.median(walls) if walls else 0.0
    m = {
        "session.start_s": started,
        "session.peak_rss_mb": peak_mb,
        "align.snap_miss_share": wl.snap_miss_share(),
        "session.jobs_per_request": per_op["jobs"] / n_ops,
        "session.tasks_per_request": per_op["tasks"] / n_ops,
        "align.shuffle_write_bytes": float(full["sw_bytes"]),
        "align.shuffle_records": float(full["sw_records"]),
        "align.task_skew": full["task_skew"],
        "spark.stages": float(everything["stages"]),
        "spark.tasks": float(everything["tasks"]),
        "spark.spill_bytes": float(everything["spill"]),
        "spark.gc_s": everything["gc_s"],
        "trace.latency_p50_s": p50,
        "trace.unaccounted_share": max(loop_wall - accounted, 0.0) / loop_wall,
        **{k: v for k, v in probe.items() if "." in k},
    }
    for r in ("none", "no_reference_candidates", "candidates_capped"):
        m[f"align.remarks.{r}"] = remarks.get(r, 0) / n_ops
    if wl.name == "image_pipeline":
        busy = statistics.median(tracer.durations("footprints"))
        m["footprints.busy_s"] = busy
        m["footprints.images_per_s"] = wl.N_IMAGES / busy
        m["manifest.overhead_s"] = statistics.median(tracer.durations("manifest")) - probe["align_full_s"]
        m["manifest.bytes_written"] = float(wl.bytes_written)
        m["manifest.shard_skew"] = wl.shard_skew
    not_exercised = {}
    for item in spec["per_layer"]:
        if item["name"] not in m:
            layer_name = item["name"].split(".")[0]
            not_exercised[item["name"]] = f"{wl.name} does not call the {layer_name} layer"
            m[item["name"]] = 0.0
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"trace_{wl.name}_{wl.seed}.json"),
                 {"workload": wl.name, "seed": wl.seed, "loop_wall_s": loop_wall,
                  "not_exercised": not_exercised, "metrics": m})
    m["_not_exercised"] = not_exercised
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "brdrq_spark", "__init__.py")):
        print(f"perfbench: no brdrq_spark package under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark_env(root, work)
    try:
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    metrics = res["metrics"]
    for err in res["errors"]:
        print(f"check failed: {err}")
    for name, why in metrics.pop("_not_exercised", {}).items():
        print(f"{name}: not exercised ({why}); reported as 0")
    for name in units:
        print(f"{name} = {metrics[name]:.6g} {units[name]}")
    if "error_rate" in res:
        # neither is a JSON metric: error_rate reads 0 on a correct run and
        # peak memory moves ~30% between identical image_pipeline runs
        print(f"error_rate = {res['error_rate']:.6g} ratio "
              f"({res['failed']} failed of {res['attempted']} attempted)")
        print(f"peak_rss_mb = {res['peak_rss_mb']:.6g} MB")
    print(f"operations = {res['ops']}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
