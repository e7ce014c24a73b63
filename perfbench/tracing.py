"""Measurement plumbing for the benchmark: in-memory spans with self
time, a /proc RSS sampler for the driver process tree, and a reader for
Spark's JSON event log that attributes jobs, stages and tasks to spans.

Nothing here imports Spark or the engine, so it is unit-testable on its
own (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory.

    ``enabled=False`` turns ``span`` into a bare ``yield`` so untraced
    runs pay nothing; the Spark job description is still set, because
    the event log (traced runs only) reads it to attribute jobs."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            if request is None and parent is not None:
                request = self.spans[parent]["request"]
            rec = {"id": sid, "name": name, "parent": parent, "request": request,
                   "start": time.time(), "end": None}
            self.spans.append(rec)
            self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobDescription(f"perfbench:{sid}:{name}")
        try:
            yield
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(
                    None if not self._stack
                    else f"perfbench:{self._stack[-1]}:{self.spans[self._stack[-1]]['name']}"
                )

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that its child
        spans cover (children are merged first, so overlapping children
        count once)."""
        spans = self.closed()
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_time_by_name(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.closed():
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed() if s["name"] == name]

    def write(self, path: str, extra: dict) -> None:
        st = self.self_times()
        spans = [{**s, "self_s": st[s["id"]]} for s in self.closed()]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_s_by_name": self.self_time_by_name(),
                       **extra}, f, indent=1, sort_keys=True)


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, as the sum
    of their proportional set sizes: forked Python workers share pages
    with their daemon, which a plain RSS sum would count once per fork."""
    total, todo, seen = 0, [root_pid], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):
            continue
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Background thread sampling the driver tree's resident memory
    (driver Python + JVM + Python workers) every ``interval`` seconds;
    ``stop`` joins it and returns the peak in bytes. One sample walks
    ~100 JVM threads and costs ~25 ms of a core, holding the GIL for
    part of it, so sampling is kept sparse."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory_bytes(os.getpid()))
        return self.peak


def read_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from one Spark JSON event log.

    Returns {"jobs": {job_id: {"t": submit_s, "desc": str|None,
    "stages": [ids]}}, "tasks": {stage_id: [task metric dicts]}}."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "t": ev["Submission Time"] / 1000.0,
                    "desc": props.get("spark.job.description"),
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "sw_records": sw.get("Shuffle Records Written", 0),
                })
    return {"jobs": jobs, "tasks": tasks}


def attribute_jobs(log: dict, spans: list[dict]) -> dict[int, list[int]]:
    """span id -> job ids. A job carries its span id in the description
    the tracer set; jobs without one (submitted from worker threads that
    do not inherit it) go to the innermost span open at submission."""
    by_id = {s["id"]: s for s in spans}
    out: dict[int, list[int]] = {}
    for jid, job in log["jobs"].items():
        sid = None
        desc = job["desc"] or ""
        if desc.startswith("perfbench:"):
            sid = int(desc.split(":")[1])
        if sid not in by_id:
            inner = [s for s in spans if s["start"] <= job["t"] <= s["end"]]
            sid = max(inner, key=lambda s: s["start"])["id"] if inner else None
        if sid is not None:
            out.setdefault(sid, []).append(jid)
    return out


def jobs_under(span_ids: set[int], spans: list[dict], attributed: dict) -> list[int]:
    """Job ids attributed to any of ``span_ids`` or their descendants."""
    parent = {s["id"]: s["parent"] for s in spans}
    out = []
    for sid, jids in attributed.items():
        cur = sid
        while cur is not None and cur not in span_ids:
            cur = parent.get(cur)
        if cur is not None:
            out.extend(jids)
    return out


def stage_stats(log: dict, job_ids: list[int]) -> dict:
    """Totals over the stages of ``job_ids`` that ran at least one task,
    plus the max/median task-time skew of each job's final stage."""
    stages = sorted({s for j in job_ids for s in log["jobs"][j]["stages"]
                     if log["tasks"].get(s)})
    ts = [t for s in stages for t in log["tasks"][s]]
    skews = []
    for j in job_ids:
        ran = [s for s in log["jobs"][j]["stages"] if log["tasks"].get(s)]
        if ran:
            runs = [t["run_s"] for t in log["tasks"][max(ran)]]
            med = statistics.median(runs)
            if med > 0:
                skews.append(max(runs) / med)
    return {
        "jobs": len(job_ids),
        "stages": len(stages),
        "tasks": len(ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "spill": sum(t["spill"] for t in ts),
        "sw_bytes": sum(t["sw_bytes"] for t in ts),
        "sw_records": sum(t["sw_records"] for t in ts),
        "task_skew": max(skews) if skews else 1.0,
    }
