"""Job census: per-job, per-stage and per-task wall time, records and
Python-task counts from a Spark event log.

Every Python task pays a fixed start-up cost before it reads a row, so a
small request's latency follows the number of Python tasks it runs. This
script counts them. Part of that cost is pyspark's
``worker_util.setup_spark_files`` calling ``importlib.invalidate_caches()``
once per task. On Python 3.11 a worker holds 16 zipimporters on 3
archives (12 on ``pyspark.zip``, 2 on the spark-core jar, 2 on the py4j
zip, 6,696 directory entries together), and each re-read its archive's
directory: ~0.2 s per call on a 4-core box. Reading each archive once
per call took 42-60 ms. ``brdrq_spark.daemon`` keeps each archive's
parsed directory until the file changes, so a reused worker's call
stats 3 files: 0.14 ms. ``--run`` prints the in-worker call time (and,
under the daemon, the time of one call that re-reads every archive),
and the zipimporters and directory entries per archive, from one
1-task probe.

``--run`` also splits each window's CPU seconds, read from ``/proc``:
the driver JVM's JIT compiler threads, its executor task threads and
its other threads, the Python worker processes (with the children they
reaped) and this driver Python process. On one warmed image pass (seed
1, 4 cores) the compiler threads took 1.29 of the driver JVM's 3.27
CPU-s with C2, and 0.35 of 1.47 CPU-s with C1 only.

Per stage it also prints the peak number of tasks in flight (from task
launch and finish times) against defaultParallelism: a stage whose peak
stays below both its task count and defaultParallelism shared the cores
with a concurrent stage, and its tasks ran in more than one wave.

A one-theme request on the prepared path runs no Python task: its
kernel runs in the driver. Its time then sits outside Spark jobs, so
``--run`` also prints each window's wall time that no job covers. On
the same box, 30 warmed one-theme requests split (medians) into
planning 26 ms, the theme collect job 78 ms, the kernel 22 ms, building
the result DataFrame 24 ms and collecting it 24 ms.

Usage:
  python scripts/job_census.py --run [--seed 1] [--tasks]
      Generates the benchmark-sized inputs (a 64x64 reference layer, a
      1024-theme pool, 24 images), warms up, then runs ONE interactive
      request (align of one theme at rd 2), ONE image pass
      (footprints -> checkpointed_align, 2 concurrent shards) and ONE
      feature-aligner request (evaluate(max_rd=5, step=0.1) of one
      theme) with the event log on, and prints the census of each, its
      CPU split and the wall time outside any job (planning, an
      in-driver kernel, result conversion). Before those windows, one
      1-task probe prints the time of ``importlib.invalidate_caches()``
      in a worker and its zipimporters per archive.
  python scripts/job_census.py EVENT_LOG [--tasks]
      Census of an existing uncompressed, non-rolling JSON event log
      (spark.eventLog.compress=false, spark.eventLog.rolling.enabled=
      false), one block per job group (or job description).

``--tasks`` adds one line per task.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# a stage runs Python tasks when one of its operators feeds Python workers
_PYTHON_METRIC = "time to run Python workers"


def read_log(path: str) -> dict:
    """Jobs, stages and tasks of one JSON event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    cores = 0
    parallelism = None
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerEnvironmentUpdate":
                parallelism = (ev.get("Spark Properties") or {}).get("spark.default.parallelism")
            elif kind == "SparkListenerExecutorAdded":
                cores += (ev.get("Executor Info") or {}).get("Total Cores", 0)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "label": props.get("spark.jobGroup.id")
                    or props.get("spark.job.description")
                    or "(unlabelled)",
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                names = {a.get("Name") for a in si.get("Accumulables", [])}
                stages[si["Stage ID"]] = {
                    "name": si.get("Stage Name", ""),
                    "python": _PYTHON_METRIC in names
                    or any(r.get("Name") == "PythonRDD" for r in si.get("RDD Info", [])),
                    "wall": (si.get("Completion Time", 0) - si.get("Submission Time", 0))
                    / 1000.0,
                }
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "index": info.get("Index"),
                    "launch": info.get("Launch Time", 0) / 1000.0,
                    "finish": info.get("Finish Time", 0) / 1000.0,
                    "wall": (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    / 1000.0,
                    "run": m.get("Executor Run Time", 0) / 1000.0,
                    "in": (m.get("Input Metrics") or {}).get("Records Read", 0)
                    + sr.get("Total Records Read", 0),
                    "out": (m.get("Output Metrics") or {}).get("Records Written", 0)
                    + sw.get("Shuffle Records Written", 0),
                })
    # Spark's own default: spark.default.parallelism, else the total cores
    par = int(parallelism) if parallelism else cores
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "parallelism": par}


def peak_in_flight(tasks: list[dict]) -> int:
    """Most of ``tasks`` running at one time, from their launch and
    finish times (one finishing as another launches does not overlap)."""
    events = sorted([(t["finish"], -1) for t in tasks] + [(t["launch"], 1) for t in tasks])
    running = peak = 0
    for _, step in events:
        running += step
        peak = max(peak, running)
    return peak


def census(log: dict, label: str, job_ids: list[int], per_task: bool) -> dict:
    """Print one block for ``job_ids`` and return its totals."""
    lines = []
    n_stages = n_tasks = n_py = 0
    for jid in sorted(job_ids):
        job = log["jobs"][jid]
        ran = [s for s in job["stages"] if log["tasks"].get(s)]
        wall = (job["end"] or job["submit"]) - job["submit"]
        lines.append(f"  job {jid}: {wall:.3f} s, stages {ran}"
                     f" ({len(job['stages']) - len(ran)} skipped)")
        for sid in ran:
            st = log["stages"].get(sid, {"name": "?", "python": False, "wall": 0.0})
            ts = log["tasks"][sid]
            py = len(ts) if st["python"] else 0
            n_stages += 1
            n_tasks += len(ts)
            n_py += py
            lines.append(
                f"    stage {sid}: {st['wall']:.3f} s, {len(ts)} tasks ({py} Python),"
                f" records in {sum(t['in'] for t in ts)} out {sum(t['out'] for t in ts)},"
                f" task wall max {max(t['wall'] for t in ts):.3f} s"
                f" sum {sum(t['wall'] for t in ts):.3f} s"
                f", empty tasks {sum(t['in'] == 0 for t in ts)}, peak in flight"
                f" {peak_in_flight(ts)} of defaultParallelism {log['parallelism']}"
                f"  [{st['name'][:40]}]"
            )
            if per_task:
                for t in sorted(ts, key=lambda t: t["index"]):
                    lines.append(
                        f"      task {t['index']}: wall {t['wall']:.3f} s, run"
                        f" {t['run']:.3f} s, records in {t['in']} out {t['out']}"
                    )
    print(f"== {label}: {len(job_ids)} jobs, {n_stages} stages, {n_tasks} tasks"
          f" ({n_py} Python)")
    print("\n".join(lines))
    return {"jobs": len(job_ids), "stages": n_stages, "tasks": n_tasks, "python_tasks": n_py}


def uncovered_s(log: dict, job_ids: list[int], t0: float, t1: float) -> float:
    """Wall time of the window [t0, t1] that none of ``job_ids`` covers:
    planning, a kernel run in the driver and result conversion."""
    spans = sorted(
        (max(job["submit"], t0), min(job["end"] or t1, t1))
        for job in (log["jobs"][j] for j in job_ids)
    )
    covered, end = 0.0, t0
    for lo, hi in spans:
        lo = max(lo, end)
        if hi > lo:
            covered += hi - lo
            end = hi
    return (t1 - t0) - covered


def worker_import_probe(spark) -> None:
    """Time ``importlib.invalidate_caches()`` inside a Python worker,
    once as a reused worker runs it and once with the daemon's parsed
    directories dropped, and count the worker's zipimporters and
    directory entries per archive (one 1-task job)."""

    def probe(_):
        import importlib
        import sys
        import time
        import zipimport
        from collections import Counter

        t0 = time.perf_counter()
        importlib.invalidate_caches()
        warm = time.perf_counter() - t0
        cold = None
        if hasattr(importlib.invalidate_caches, "directories"):
            importlib.invalidate_caches.directories.clear()
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            cold = time.perf_counter() - t0
        per = Counter(
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        )
        entries = {a: len(zipimport._zip_directory_cache.get(a, ())) for a in per}
        yield warm, cold, dict(per), entries

    warm, cold, per, entries = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
    )
    print(f"worker invalidate_caches(): {warm * 1000:.2f} ms"
          + (f", {cold * 1000:.1f} ms re-reading every archive" if cold is not None else "")
          + f"; {sum(per.values())} zipimporters on {len(per)} archives,"
          f" {sum(entries.values())} directory entries")
    for archive, n in sorted(per.items(), key=lambda kv: -kv[1]):
        print(f"  {n:3d}  {entries[archive]:5d}  {archive}")


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields from the state on) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    kids = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return kids


def cpu_snapshot(jvm_pid: int) -> dict:
    """CPU seconds so far of the driver JVM (per thread and whole), its
    Python worker processes (the daemon, its workers and their reaped
    children) and this driver Python process."""
    threads = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            comm, f = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:  # the thread ended
            continue
        threads[tid] = (comm, (int(f[11]) + int(f[12])) / _TICK)
    _, f = _stat(f"/proc/{jvm_pid}/stat")
    python, todo = 0.0, _children(jvm_pid)
    while todo:
        pid = todo.pop()
        try:
            _, pf = _stat(f"/proc/{pid}/stat")
            todo += _children(pid)
        except OSError:  # exited: its CPU is in its parent's reaped time
            continue
        python += sum(int(x) for x in pf[11:15]) / _TICK
    t = os.times()
    return {"threads": threads, "jvm": (int(f[11]) + int(f[12])) / _TICK,
            "python": python, "driver": t.user + t.system}


def cpu_split(before: dict, after: dict) -> str:
    """One line of CPU seconds between two snapshots. Driver-JVM threads
    are split by name: JIT compiler threads, executor task threads and
    the rest; the rest also holds threads that ended in the window."""
    by = {"compiler": 0.0, "executor tasks": 0.0}
    other: Counter = Counter()
    for tid, (comm, cpu) in after["threads"].items():
        was = before["threads"].get(tid)
        delta = cpu - (was[1] if was and was[0] == comm else 0.0)
        if "CompilerThre" in comm:
            by["compiler"] += delta
        elif comm.startswith("Executor task"):
            by["executor tasks"] += delta
        else:
            other[comm.rstrip("0123456789#-")] += delta
    jvm = after["jvm"] - before["jvm"]
    top = ", ".join(f"{name} {cpu:.2f}" for name, cpu in other.most_common(3) if cpu > 0)
    return (f"CPU: driver JVM {jvm:.2f} s (compiler threads {by['compiler']:.2f},"
            f" executor task threads {by['executor tasks']:.2f}, other"
            f" {jvm - sum(by.values()):.2f}{': ' + top if top else ''}), Python workers"
            f" {after['python'] - before['python']:.2f} s, driver Python"
            f" {after['driver'] - before['driver']:.2f} s")


def run(seed: int, per_task: bool) -> None:
    """One warmed-up interactive request, image pass and one-theme
    evaluate, each in its own time window; jobs are attributed by submission time, because
    the shard threads of checkpointed_align do not inherit a job group."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from brdrq_spark.operators.align import AlignConfig, align
    from brdrq_spark.operators.evaluate import evaluate
    from brdrq_spark.operators.footprints import extract_footprints
    from brdrq_spark.session import get_spark
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align
    from brdrq_spark.sources.synthetic import (
        images_table,
        reference_parcels,
        thematic_polygons,
    )

    work = tempfile.mkdtemp(prefix="job_census_")
    try:
        def write(pdf, name):
            path = os.path.join(work, name)
            pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
            return path

        ref_path = write(reference_parcels(64, 64, seed=42), "reference.parquet")
        th_pdf = thematic_polygons(1024, 64, 64, seed=seed, jitter=1.0, node_seed=42)
        th_path = write(th_pdf, "themes.parquet")
        img_path = write(images_table(24, seed=seed), "images.parquet")
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        spark = get_spark("job_census", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        ref = spark.read.parquet(ref_path)
        themes = spark.read.parquet(th_path)
        cfg = AlignConfig(relevant_distances=[2.0])

        def request(tid):
            align(spark, themes.where(F.col("theme_id") == tid), ref, cfg,
                  broadcast_ref=True).collect()

        # read once, as perfbench does: a read per pass would add its own
        # schema job to every pass
        images = spark.read.parquet(img_path)

        def image_pass(i):
            fp = os.path.join(work, f"footprints_{i}.parquet")
            extract_footprints(images).write.parquet(fp)
            checkpointed_align(spark, CommittedTable(os.path.join(work, f"table_{i}")),
                               spark.read.parquet(fp), ref, cfg, n_partitions=2,
                               broadcast_ref=True, max_concurrent=4)

        def sweep(tid):
            evaluate(spark, themes.where(F.col("theme_id") == tid), ref,
                     max_rd=5.0, step=0.1, broadcast_ref=True).collect()

        ids = list(th_pdf.theme_id)
        for tid in ids[:4]:
            request(tid)
        image_pass(0)
        sweep(ids[5])
        worker_import_probe(spark)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        windows = {}
        for label, fn in (("interactive request", lambda: request(ids[4])),
                          ("image pass", lambda: image_pass(1)),
                          ("evaluate request", lambda: sweep(ids[6]))):
            time.sleep(0.5)  # keep the windows apart at the log's ms clock
            cpu = cpu_snapshot(jvm_pid)
            t0 = time.time()
            fn()
            windows[label] = (t0, time.time())
            print(f"{label}: {windows[label][1] - t0:.3f} s wall")
            print("  " + cpu_split(cpu, cpu_snapshot(jvm_pid)))
        spark.stop()  # flushes the event log
        log = read_log(glob.glob(os.path.join(log_dir, "*"))[0])
        for label, (t0, t1) in windows.items():
            jids = [j for j, job in log["jobs"].items() if t0 <= job["submit"] <= t1]
            census(log, label, jids, per_task)
            print(f"  outside any job: {uncovered_s(log, jids, t0, t1):.3f} s"
                  f" of {t1 - t0:.3f} s wall")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("event_log", nargs="?")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--tasks", action="store_true")
    args = ap.parse_args(argv)
    if args.run:
        run(args.seed, args.tasks)
        return 0
    if not args.event_log:
        ap.error("give an EVENT_LOG or --run")
    log = read_log(args.event_log)
    groups: dict[str, list[int]] = {}
    for jid, job in sorted(log["jobs"].items()):
        groups.setdefault(job["label"], []).append(jid)
    for label, jids in groups.items():
        census(log, label, jids, args.tasks)
    return 0


if __name__ == "__main__":
    sys.exit(main())
