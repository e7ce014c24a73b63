"""The one candidate path: kNN, line, topology and network alignment hand
their per-theme kernel to ``candidates.candidate_groups``, which probes
the prepared reference index or runs the cell join. Both paths must emit
the same rows, all columns, as the per-operator candidate plans these
operators ran before (pinned as digests of their sorted rows), including
a theme with no candidates; and a warm call runs one job (topology: the
decompose and reassembly stages around it)."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from brdrq_spark.geom import rings_from_wkb, rings_to_wkb
from brdrq_spark.geom.wkb import lines_to_wkb
from brdrq_spark.operators.knn import knn_boundary_segments
from brdrq_spark.operators.network import align_network
from brdrq_spark.operators.snaplines import align_lines
from brdrq_spark.operators.topology import align_topology
from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

FAR = np.array([[0.0, 0], [5, 0], [5, 5], [0, 5]]) + 100000.0


@pytest.fixture(scope="module")
def layers(spark):
    ref = spark.createDataFrame(reference_parcels(8, 8, seed=6))
    th_pdf = thematic_polygons(12, 8, 8, seed=6, jitter=1.0)[["theme_id", "geom_wkb"]]
    th_pdf = pd.concat(
        [th_pdf, pd.DataFrame([{"theme_id": "far", "geom_wkb": rings_to_wkb([FAR])}])],
        ignore_index=True,
    )
    lines = [
        {"theme_id": tid, "geom_wkb": lines_to_wkb([np.vstack([r, r[:1]])])}
        for tid, w in zip(th_pdf.theme_id, th_pdf.geom_wkb)
        for r in rings_from_wkb(w)[:1]
    ]
    return ref, spark.createDataFrame(th_pdf), spark.createDataFrame(pd.DataFrame(lines))


def _ops(spark, ref, th, ln):
    return {
        "knn": lambda b: knn_boundary_segments(spark, th, ref, k=3, search_radius=10.0),
        "lines": lambda b: align_lines(
            spark, ln, ref, relevant_distance=2.0, snap_strategy="PREFER_VERTICES",
            broadcast_ref=b,
        ),
        "topology": lambda b: align_topology(spark, th, ref, relevant_distance=1.0, broadcast_ref=b),
        "network": lambda b: align_network(spark, th, ref, relevant_distance=2.0, broadcast_ref=b),
    }


# sha256 of repr(sorted rows) of each operator's output on ``layers``
PER_OPERATOR_PLANS = {
    "knn": "3e6af57ea73b087686f088a650d330a7b5c931392595bca6fc35397acd2e37f5",
    "lines": "ee859aa39e389df5567e8de5940debb4a634276679f19c12c89dd0ab1600a718",
    "topology": "1fe5ad7808d2fdfed39c57d4d22627f8368cb4c415ad17342c5df26f41485533",
    "network": "f4ebb13f4747b7efd17c5fc4faa555a154e256c1e92c192f6b89236b186794ba",
}


def _rows(df):
    cols = df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.mark.parametrize("op", sorted(PER_OPERATOR_PLANS))
def test_probe_and_cell_join_rows_match_per_operator_plans(spark, layers, op):
    run = _ops(spark, *layers)[op]
    probed = _rows(run(True))
    if op == "knn":
        # no broadcast_ref keyword: the auto rule, disabled by threshold -1
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = _rows(run(None))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert not [r for r in probed if r[0] == "far"]
    else:
        joined = _rows(run(False))
        far = [r for r in probed if r[0] == "far"]
        assert len(far) == 1
        if op == "topology":
            assert far[0][-2:] == (0, "")  # n_shared_edges, remark
        else:
            assert far[0][-1] == "no_reference_candidates"
    assert probed == joined
    assert hashlib.sha256(repr(probed).encode()).hexdigest() == PER_OPERATOR_PLANS[op]


# warm-call jobs: one probe job (topology: plus its decompose, edge
# dedup and reassembly stages)
MAX_JOBS = {"knn": 1, "lines": 1, "topology": 5, "network": 1}


@pytest.mark.parametrize("op", sorted(MAX_JOBS))
def test_warm_call_jobs(spark, layers, op):
    run = _ops(spark, *layers)[op]
    run(None).collect()  # builds the prepared reference
    sc = spark.sparkContext
    group = f"warm_{op}"
    sc.setJobGroup(group, group)
    try:
        run(None).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= MAX_JOBS[op]
