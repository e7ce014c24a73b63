"""kNN nearest-boundary-segment tests (J6)."""

import numpy as np
import pandas as pd
import pytest

from brdrq_spark.geom import rings_to_wkb
from brdrq_spark.operators.knn import knn_boundary_segments


def test_knn_finds_nearest_segment(spark):
    # reference: unit square parcels side by side
    ref = pd.DataFrame(
        [
            {"ref_id": "A", "geom_wkb": rings_to_wkb([np.array([[0.0, 0], [10, 0], [10, 10], [0, 10]]) + np.array([170100.0, 170100.0])])},
            {"ref_id": "B", "geom_wkb": rings_to_wkb([np.array([[10.0, 0], [20, 0], [20, 10], [10, 10]]) + np.array([170100.0, 170100.0])])},
        ]
    )
    # theme: a point-ish triangle 1m right of A's right edge (x=10)
    tri = np.array([[11.0, 5.0], [12.0, 5.0], [11.5, 6.0]]) + np.array([170100.0, 170100.0])
    th = pd.DataFrame([{"theme_id": "t", "geom_wkb": rings_to_wkb([tri])}])

    out = knn_boundary_segments(
        spark, spark.createDataFrame(th), spark.createDataFrame(ref), k=2, search_radius=10.0
    ).collect()
    assert out
    by_vertex = {}
    for r in out:
        by_vertex.setdefault(r.vertex_idx, []).append(r)
    # vertex 0 at (11,5): dist 0 to B interior edges? vertex inside B —
    # nearest segment is B/A shared edge at x=10, dist 1.0
    v0 = sorted(by_vertex[0], key=lambda r: r.rank)
    assert v0[0].dist == pytest.approx(1.0, abs=1e-9)
    assert v0[0].ref_id in ("A", "B")  # shared edge belongs to both
    # ranks are deterministic and increasing in distance
    for rows in by_vertex.values():
        ds = [r.dist for r in sorted(rows, key=lambda r: r.rank)]
        assert ds == sorted(ds)


def test_knn_hot_theme_subgroups_match_single_group(spark, candidate_pairs):
    """De-skew path: one giant theme over a dense 100-parcel grid. With
    max_refs_per_group=8 the candidates split into ~13 hash sub-groups
    (multi-task execution instead of one task owning every segment);
    the window merge must reproduce the single-group result exactly —
    same rows, same ranks, same distances."""
    # 10x10 grid of 4x4 parcels covering [0,40)^2
    refs = []
    for i in range(10):
        for j in range(10):
            refs.append(
                {
                    "ref_id": f"r{i}{j}",
                    "geom_wkb": rings_to_wkb(
                        [
                            np.array(
                                [[0.0, 0], [4, 0], [4, 4], [0, 4]]
                            )
                            + np.array([4.0 * i, 4.0 * j])
                        ]
                    ),
                }
            )
    ref_df = spark.createDataFrame(pd.DataFrame(refs))
    theme = np.array([[0.7, 0.6], [39.1, 0.6], [39.1, 39.2], [0.7, 39.2]])
    th_df = spark.createDataFrame(
        pd.DataFrame([{"theme_id": "hot", "geom_wkb": rings_to_wkb([theme])}])
    )
    # precondition: the theme really is hot — candidate count far above
    # the sub-group cap, so n_groups > 1
    n_pairs = candidate_pairs(th_df, ref_df, max_rd=5.0).count()
    assert n_pairs > 8

    def rows(max_refs):
        out = knn_boundary_segments(
            spark, th_df, ref_df, k=3, search_radius=10.0,
            max_refs_per_group=max_refs,
        ).collect()
        return sorted(
            (r.vertex_idx, r.rank, r.ref_id, r.seg_idx, round(r.dist, 9))
            for r in out
        )

    single = rows(10**9)
    split = rows(8)
    assert split == single and len(single) > 0


def test_knn_expanding_ring_escalation(spark):
    """Planted two-ring fixture: a spike vertex 10 m from the only
    parcel is invisible at search_radius=6 and found exactly at the
    second ring (r=12); covered vertices keep their ring-1 rows, the
    escalated vertex's rows match a fresh wide search bit-for-bit, and
    a theme beyond max_radius stays absent (the cap holds)."""
    from brdrq_spark.operators.knn import knn_with_escalation

    O = np.array([170100.0, 170100.0])
    ref = pd.DataFrame(
        [
            {
                "ref_id": "A",
                "geom_wkb": rings_to_wkb(
                    [np.array([[0.0, 0], [10, 0], [10, 10], [0, 10]]) + O]
                ),
            }
        ]
    )
    tri = np.array([[11.0, 4.0], [20.0, 5.0], [11.0, 6.0]]) + O
    th = pd.DataFrame(
        [
            {"theme_id": "t", "geom_wkb": rings_to_wkb([tri])},
            # no reference within 1 km: absent from every ring
            {
                "theme_id": "orphan",
                "geom_wkb": rings_to_wkb(
                    [np.array([[900.0, 900], [901, 900], [900, 901]]) + O]
                ),
            },
        ]
    )
    th_df = spark.createDataFrame(th)
    ref_df = spark.createDataFrame(ref)

    base = knn_boundary_segments(
        spark, th_df, ref_df, k=2, search_radius=6.0
    ).collect()
    assert sorted({r.vertex_idx for r in base if r.theme_id == "t"}) == [0, 2]

    out = knn_with_escalation(
        spark, th_df, ref_df, k=2, search_radius=6.0, max_radius=48.0, growth=2.0
    ).collect()
    t_rows = [r for r in out if r.theme_id == "t"]
    assert sorted({r.vertex_idx for r in t_rows}) == [0, 1, 2]
    v1 = sorted((r for r in t_rows if r.vertex_idx == 1), key=lambda r: r.rank)
    assert v1[0].dist == pytest.approx(10.0, abs=1e-9)
    # the escalated vertex's rows equal a direct search at its ring radius
    wide = knn_boundary_segments(
        spark, th_df.where("theme_id = 't'"), ref_df, k=2, search_radius=12.0
    ).collect()
    assert sorted((r.rank, r.ref_id, r.seg_idx, round(r.dist, 9)) for r in v1) == sorted(
        (r.rank, r.ref_id, r.seg_idx, round(r.dist, 9))
        for r in wide
        if r.vertex_idx == 1
    )
    # covered vertices did not recompute into duplicates
    keys = [(r.theme_id, r.vertex_idx, r.rank) for r in out]
    assert len(keys) == len(set(keys))
    base_v0 = sorted(
        (r.rank, r.ref_id, r.seg_idx, round(r.dist, 9))
        for r in base
        if r.theme_id == "t" and r.vertex_idx == 0
    )
    esc_v0 = sorted(
        (r.rank, r.ref_id, r.seg_idx, round(r.dist, 9))
        for r in t_rows
        if r.vertex_idx == 0
    )
    assert esc_v0 == base_v0
    assert not [r for r in out if r.theme_id == "orphan"]


def test_knn_escalation_cache_contract(spark):
    """materialize=True consolidates: same rows as the lazy path, every
    per-ring cache released, exactly one persisted DataFrame handed to
    the caller. growth<=1 (a loop that would never advance r) raises."""
    from brdrq_spark.operators.knn import knn_with_escalation

    O = np.array([170100.0, 170100.0])
    ref_df = spark.createDataFrame(
        pd.DataFrame(
            [{"ref_id": "A", "geom_wkb": rings_to_wkb(
                [np.array([[0.0, 0], [10, 0], [10, 10], [0, 10]]) + O])}]
        )
    )
    tri = np.array([[11.0, 4.0], [20.0, 5.0], [11.0, 6.0]]) + O
    th_df = spark.createDataFrame(
        pd.DataFrame([{"theme_id": "t", "geom_wkb": rings_to_wkb([tri])}])
    )

    with pytest.raises(ValueError, match="growth"):
        knn_with_escalation(spark, th_df, ref_df, growth=1.0)

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = knn_with_escalation(
        spark, th_df, ref_df, k=2, search_radius=6.0, max_radius=48.0,
        growth=2.0, materialize=True,
    )
    after = jsc.getPersistentRDDs().size()
    # base + ring caches released; only the consolidated union remains
    assert after - before == 1
    lazy = knn_with_escalation(
        spark, th_df, ref_df, k=2, search_radius=6.0, max_radius=48.0
    )
    key = lambda r: (r.theme_id, r.vertex_idx, r.rank, r.ref_id, r.seg_idx)
    assert sorted(map(key, out.collect())) == sorted(map(key, lazy.collect()))
    out.unpersist()

    # no-escalation case (ADVICE r7): the first search covers every
    # vertex, so acc IS the base DataFrame — materialize=True must not
    # unpersist the handle it returns (the returned DF stays cached and
    # exactly one persisted DataFrame remains)
    before = jsc.getPersistentRDDs().size()
    out1 = knn_with_escalation(
        spark, th_df, ref_df, k=2, search_radius=48.0, max_radius=96.0,
        growth=2.0, materialize=True,
    )
    after1 = jsc.getPersistentRDDs().size()
    assert after1 - before == 1
    assert out1.storageLevel.useMemory  # returned handle still cached
    n1 = out1.count()
    assert n1 == out1.count() > 0
    out1.unpersist()


def test_knn_escalation_builds_one_index_per_resolution(spark, monkeypatch, tmp_path):
    """The default rings (10, 20, 40, 80 m) search at cell resolutions
    10, 9, 8 and 7. A theme with no reference within max_radius keeps
    every ring running, so one escalation builds four prepared indexes,
    one per resolution, from ONE collect of the reference layer, and a
    second escalation on the same reference builds and collects
    nothing."""
    from brdrq_spark.operators.knn import knn_with_escalation

    sc = spark.sparkContext
    built = []
    real = sc.broadcast

    def counting(value):
        built.append(value)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    O = np.array([170100.0, 170100.0])
    # a parquet scan: collecting a local relation would run no job
    spark.createDataFrame(
        pd.DataFrame(
            [{"ref_id": "A", "geom_wkb": rings_to_wkb(
                [np.array([[0.0, 0], [10, 0], [10, 10], [0, 10]]) + O])}]
        )
    ).write.parquet(str(tmp_path / "ref"))
    ref_df = spark.read.parquet(str(tmp_path / "ref"))
    th_df = spark.createDataFrame(
        pd.DataFrame(
            [{"theme_id": "orphan", "geom_wkb": rings_to_wkb(
                [np.array([[900.0, 900], [901, 900], [900, 901]]) + O])}]
        )
    )

    # the jobs of every collect of the reference layer's (ref_id, geom_wkb)
    collect_jobs = []
    real_collect = type(ref_df).collect

    def spy(df):
        if df.columns != ["ref_id", "geom_wkb"]:
            return real_collect(df)
        group = f"reference_collect_{len(collect_jobs)}"
        sc.setJobGroup(group, group)
        try:
            return real_collect(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            collect_jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    monkeypatch.setattr(type(ref_df), "collect", spy)
    assert knn_with_escalation(spark, th_df, ref_df).collect() == []
    assert len(built) == 4
    assert len(collect_jobs) == 1
    knn_with_escalation(spark, th_df, ref_df).collect()
    assert len(built) == 4
    assert len(collect_jobs) == 1
