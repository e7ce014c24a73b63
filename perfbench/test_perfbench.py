"""Tests of the benchmark's own plumbing (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    Tracer,
    attribute_jobs,
    jobs_under,
    percentile,
    read_event_log,
    stage_stats,
    tree_memory_bytes,
)


def _spec():
    with open(os.path.join(HERE, "metrics.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = _spec()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert bench["workloads"] == [{"name": w["name"], "why": w["why"]} for w in spec["workloads"]]
    assert bench["end_to_end"] == [
        {k: m[k] for k in ("name", "unit", "better", "bound")} for m in spec["end_to_end"]
    ]
    assert bench["per_layer"] == [{k: m[k] for k in ("name", "unit", "better")} for m in spec["per_layer"]]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
    assert str(spec["holdout_seed"]) not in spec["tuning_seeds"]


def test_workloads_are_registered():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    assert list(WORKLOADS) == [w["name"] for w in _spec()["workloads"]]


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 0) == 1.0
    assert percentile([7.0], 90) == 7.0
    assert percentile([1.0, 2.0], 90) == pytest.approx(1.9)


def test_self_time_subtracts_merged_children():
    tr = Tracer(True)
    base = 1000.0
    tr.spans = [
        {"id": 0, "name": "op", "parent": None, "request": 1, "start": base, "end": base + 10},
        {"id": 1, "name": "a", "parent": 0, "request": 1, "start": base + 1, "end": base + 4},
        {"id": 2, "name": "b", "parent": 0, "request": 1, "start": base + 3, "end": base + 6},
        {"id": 3, "name": "a", "parent": 0, "request": 1, "start": base + 8, "end": base + 12},
    ]
    st = tr.self_times()
    assert st[0] == pytest.approx(10 - 5 - 2)  # children cover [1,6] and [8,10]
    assert st[1] == pytest.approx(3)
    assert tr.self_time_by_name()["a"] == pytest.approx(7)


def test_spans_nest_and_inherit_request():
    tr = Tracer(True)
    with tr.span("op", request=5):
        with tr.span("align"):
            time.sleep(0.001)
    op, al = tr.closed()
    assert al["parent"] == op["id"] and al["request"] == 5
    assert op["start"] <= al["start"] <= al["end"] <= op["end"]
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def _event_log(tmp_path, t0):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": int((t0 + 1) * 1000),
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "perfbench:1:align"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": int((t0 + 2.5) * 1000),
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": int((t0 + 9) * 1000),
         "Stage IDs": [3], "Properties": {}},
    ]
    for stage, runs in ((0, [100, 100]), (1, [100, 100, 400]), (2, [50]), (3, [10])):
        for r in runs:
            events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
                "Executor Run Time": r, "JVM GC Time": 10, "Memory Bytes Spilled": 1,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 8, "Shuffle Records Written": 2}}})
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return read_event_log(str(path))


def test_event_log_attribution(tmp_path):
    t0 = 5000.0
    log = _event_log(tmp_path, t0)
    spans = [
        {"id": 0, "name": "op", "parent": None, "start": t0, "end": t0 + 3},
        {"id": 1, "name": "align", "parent": 0, "start": t0 + 0.5, "end": t0 + 2},
        {"id": 2, "name": "bench.check", "parent": 0, "start": t0 + 2.2, "end": t0 + 3},
    ]
    att = attribute_jobs(log, spans)
    assert att == {1: [0], 2: [1]}  # job 2 ran outside every span
    assert sorted(jobs_under({0}, spans, att)) == [0, 1]
    st = stage_stats(log, [0])
    assert (st["jobs"], st["stages"], st["tasks"]) == (1, 2, 5)
    assert st["sw_bytes"] == 40 and st["sw_records"] == 10 and st["spill"] == 5
    assert st["gc_s"] == pytest.approx(0.05)
    assert st["task_skew"] == pytest.approx(4.0)  # final stage: max 400 / median 100


def test_tree_memory_counts_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; x = bytearray(64 << 20); time.sleep(5)"])
    try:
        time.sleep(1.0)
        with_child = tree_memory_bytes(os.getpid())
    finally:
        child.kill()
        child.wait(timeout=10)
    assert with_child - tree_memory_bytes(os.getpid()) > 32 << 20


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "tracing.py", "workloads.py", "metrics.json"):
        (bench / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive_predict", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
