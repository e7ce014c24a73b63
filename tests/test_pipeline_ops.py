"""Tests for evaluate / classify / temporal / manifest / dedup /
similarity / footprint-invariant operators."""

import os

import pytest
from pyspark.sql import functions as F

from brdrq_spark.operators.align import AlignConfig
from brdrq_spark.operators.classify import classify_correction
from brdrq_spark.operators.evaluate import distance_grid, evaluate
from brdrq_spark.operators.temporal import changed_themes, update_to_actual
from brdrq_spark.sources.manifest import CommittedTable, run_partitioned
from brdrq_spark.sources.synthetic import (
    images_table,
    reference_parcels,
    reference_parcels_v2,
    thematic_polygons,
)

GRID = 8


@pytest.fixture(scope="module")
def small_tables(spark):
    ref = spark.createDataFrame(reference_parcels(GRID, GRID, seed=13))
    th = spark.createDataFrame(thematic_polygons(4, GRID, GRID, seed=13, jitter=0.8))
    return th, ref


def test_distance_grid_matches_reference_shape():
    g = distance_grid(2.0, 0.5)
    assert g == [0.0, 0.5, 1.0, 1.5, 2.0]
    assert distance_grid(0.3, 0.1) == [0.0, 0.1, 0.2, 0.3]
    # non-multiple max_rd must CAP, not overshoot: candidate dilation is
    # sized from max(relevant_distances), so a 2.5 entry here would
    # sweep beyond the candidate radius (ADVICE r6)
    assert distance_grid(2.2, 0.5) == [0.0, 0.5, 1.0, 1.5, 2.0]
    assert distance_grid(2.2, 0.1)[-1] == 2.2


def test_evaluate_leaves_the_callers_config_alone(spark, small_tables):
    """evaluate sweeps its own grid on a copy of ``config``: the caller's
    relevant_distances stay as they were, with and without auto_step."""
    th, ref = small_tables
    cfg = AlignConfig(relevant_distances=[2.0])
    for auto_step in (False, True):
        evaluate(spark, th, ref, max_rd=1.0, step=0.5, config=cfg,
                 broadcast_ref=True, auto_step=auto_step)
        assert cfg.relevant_distances == [2.0]


def test_evaluate_stability_and_predictions(spark, small_tables):
    th, ref = small_tables
    out = evaluate(
        spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True, min_stable=2
    ).collect()
    assert len(out) >= 1  # at least one stable prediction overall
    for r in out:
        assert r.brdr_stability
        assert r.brdr_prediction_score >= 2
        assert r.brdr_prediction_count >= 1
        assert r.brdr_evaluation in (
            "no_change",
            "prediction_unique",
            "to_check_prediction_multi",
        )


def test_classify_states(spark, small_tables):
    th, ref = small_tables
    ev = evaluate(spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True)
    cls = classify_correction(th, ev).collect()
    assert len(cls) >= th.count()  # every source feature classified
    states = {r.brdrq_state for r in cls}
    assert states <= {
        "not_changed",
        "auto_updated",
        "to_review",
        "to_update",
        "none",
    }
    for r in cls:
        assert r.brdrq_original_wkt.startswith("MULTIPOLYGON")


def test_temporal_update_only_changed(spark):
    ref_v1 = reference_parcels(GRID, GRID, seed=17)
    ref_v2 = reference_parcels_v2(GRID, GRID, seed=17, change_frac=0.1)
    th = thematic_polygons(6, GRID, GRID, seed=17, jitter=0.5)
    # lineage: each theme derives from its source parcel at v1 date
    lineage = [
        {
            "theme_id": r.theme_id,
            "ref_id": ref_v1[ref_v1.ref_id.str.endswith(r.src_parcel)].ref_id.iloc[0],
            "version_date": "2023-01-01",
        }
        for r in th.itertuples(index=False)
    ]
    th_df = spark.createDataFrame(th)
    lin_df = spark.createDataFrame(lineage)
    v2_df = spark.createDataFrame(ref_v2)

    changed = {r.theme_id for r in changed_themes(lin_df, v2_df).collect()}
    n_changed_parcels = int((ref_v2.VERSIE == 2).sum())
    assert n_changed_parcels > 0
    out = update_to_actual(
        spark, th_df, lin_df, v2_df, AlignConfig(relevant_distances=[2.0]), broadcast_ref=True
    ).collect()
    assert len(out) == 6  # featureCount preserved
    remarks = {r.theme_id: r.brdr_remark for r in out}
    for tid, rem in remarks.items():
        if tid in changed:
            assert rem != "unchanged_reference"
        else:
            assert rem == "unchanged_reference"


def test_committed_table_resume(spark, tmp_path):
    tab = CommittedTable(str(tmp_path / "tbl"))
    calls = []

    def make_df(key):
        calls.append(key)
        return spark.range(10).withColumn("k", F.lit(key))

    keys = ["a", "b", "c"]
    s1 = run_partitioned(tab, keys, make_df)
    assert s1 == {"requested": 3, "skipped_committed": 0, "computed": 3}
    assert tab.read(spark).count() == 30
    # resume: nothing recomputed
    s2 = run_partitioned(tab, keys, make_df)
    assert s2["computed"] == 0 and s2["skipped_committed"] == 3
    assert calls == ["a", "b", "c"]
    # lineage rows recorded per partition
    lin = tab.lineage()
    assert [r["partition"] for r in lin] == ["a", "b", "c"]
    assert all(r["row_count"] == 10 for r in lin)
    # a new key computes incrementally
    s3 = run_partitioned(tab, keys + ["d"], make_df)
    assert s3["computed"] == 1
    assert tab.read(spark).count() == 40


def test_footprint_invariant_after_shuffle(spark):
    from brdrq_spark.operators.footprints import verify_invariants

    images = spark.createDataFrame(images_table(12, seed=4))
    # a tiling pass: repartition by phash-derived cell + sort (max shuffle)
    shuffled = images.repartition(8, "phash").sortWithinPartitions("image_id")
    checks = verify_invariants(shuffled, images).collect()
    assert len(checks) == 12
    assert all(r.pixels_ok and r.caption_ok for r in checks)


def test_minhash_finds_planted_duplicates(spark):
    import pandas as pd

    from brdrq_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard,
        shingles,
    )

    base = "the quick brown fox jumps over the lazy dog again and again until done"
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base},  # exact dup
        {"doc_id": 3, "text": base.replace("lazy", "sleepy")},  # near dup
        {"doc_id": 4, "text": "completely different content about spark plans and shuffles here"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    sigs = minhash_signatures(shingles(df, k=3), num_perm=16)
    pairs = lsh_candidate_pairs(sigs, bands=8)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (1, 2) in got
    verified = ngram_jaccard(df, pairs, k=3, threshold=0.95).collect()
    vgot = {(r.a, r.b) for r in verified}
    assert (1, 2) in vgot
    assert all(p != (1, 4) for p in vgot)


def test_classify_one_row_per_feature_multi_prediction(spark):
    """Reference brdrq_utils.py:1250-1253: a feature with several
    prediction rows appears ONCE in the correction layer, as to_review."""
    import pandas as pd
    import numpy as np

    from brdrq_spark.geom import rings_to_wkb

    sq = rings_to_wkb([np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])])
    th = spark.createDataFrame(
        pd.DataFrame([{"theme_id": "t1", "geom_wkb": sq}])
    )
    ev_rows = [
        {
            "theme_id": "t1",
            "result_wkb": sq,
            "brdr_relevant_distance": rd,
            "brdr_evaluation": "to_check_prediction_multi",
            "brdr_sym_diff_area": 5.0,
            "brdr_sym_diff_area_index_perc": 5.0,
            "brdr_sym_diff_area_index": 0.05,
            "brdr_area": 1.0,
            "brdr_prediction_score": score,
            "brdr_stability": True,
        }
        for rd, score in [(1.0, 3.0), (2.0, 2.0)]
    ]
    ev = spark.createDataFrame(pd.DataFrame(ev_rows))
    out = classify_correction(th, ev).collect()
    assert len(out) == 1
    assert out[0].brdrq_state == "to_review"
    # geometry still replaced (reference applies geometry_changes for
    # every key not in ids_to_align, brdrq_utils.py:1330-1334)
    assert bytes(out[0].geom_wkb) == sq


def test_evaluate_original_strategy_restores_source(spark, small_tables):
    """A9 ORIGINAL: multiple predictions -> the SOURCE geometry, not NULL
    (reference brdrq_algorithm_common.py:123-130)."""
    from brdrq_spark.operators.evaluate import STRATEGY_ORIGINAL

    th, ref = small_tables
    out = evaluate(
        spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True,
        prediction_strategy=STRATEGY_ORIGINAL,
    )
    src = {r.theme_id: bytes(r.geom_wkb) for r in th.collect()}
    for r in out.collect():
        assert r.result_wkb is not None
        if r.brdr_prediction_count > 1:
            assert bytes(r.result_wkb) == src[r.theme_id]


@pytest.mark.parametrize("broadcast_ref", [True, False])
def test_evaluate_by_id_looks_the_claim_up_by_id(spark, broadcast_ref):
    """equality_by_id finds the claimed id among the theme's candidate
    rows: a claim on the second of two parcels with the same geometry
    fires (the kernel dedupes candidates by WKB, keeping the first id),
    and an id held by two parcels gives one row per prediction."""
    import numpy as np
    import pandas as pd

    from brdrq_spark.geom import rings_to_wkb

    def square(x0):
        o = np.array([170000.0 + x0, 170000.0])
        return rings_to_wkb([np.array([[0.0, 0], [10, 0], [10, 10], [0, 10]]) + o])

    ref = spark.createDataFrame(pd.DataFrame([
        {"ref_id": "A", "geom_wkb": square(0.0)},
        {"ref_id": "B", "geom_wkb": square(0.0)},
        {"ref_id": "D", "geom_wkb": square(40.0)},
        {"ref_id": "D", "geom_wkb": square(50.0)},
    ]))
    th = spark.createDataFrame(pd.DataFrame([
        {"theme_id": "same_geometry", "geom_wkb": square(0.0), "claim": "B"},
        {"theme_id": "shared_id", "geom_wkb": square(40.0), "claim": "D"},
        {"theme_id": "wrong_id", "geom_wkb": square(40.0), "claim": "A"},
    ]))
    rows = evaluate(
        spark, th, ref, max_rd=1.0, step=0.5, broadcast_ref=broadcast_ref,
        ref_key_col="claim",
    ).collect()
    labels = {}
    for r in rows:
        labels.setdefault(r.theme_id, []).append(r.brdr_evaluation)
    assert labels == {
        "same_geometry": ["equality_by_id_and_full_reference"],
        "shared_id": ["equality_by_id_and_full_reference"],
        "wrong_id": ["equality_by_full_reference"],
    }


def test_lsh_degenerate_bucket_capped(spark):
    """A bucket of thousands of identical docs must not go quadratic:
    max_bucket_size keeps the bucket's first ids, so the pairs are
    exactly those among the 100 smallest ids."""
    import pandas as pd

    from brdrq_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{i:05d}" for i in range(5000)],
                "text": ["identical boilerplate text body for every doc"] * 5000,
            }
        )
    )
    sigs = minhash_signatures(shingles(docs, k=3), num_perm=16)
    pairs = lsh_candidate_pairs(sigs, bands=8, max_bucket_size=100)
    got = {(r.a, r.b) for r in pairs.collect()}
    kept = [f"d{i:05d}" for i in range(100)]
    assert got == {(a, b) for a in kept for b in kept if a < b}


def test_checkpointed_align_resume(spark, tmp_path, small_tables):
    """Kill-resume for the flagship operator: second run recomputes only
    uncommitted shards; lineage rows carry cell range + alignment stats."""
    from brdrq_spark.operators.align import AlignConfig
    from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

    th, ref = small_tables
    tab = CommittedTable(str(tmp_path / "ckpt"))
    cfg = AlignConfig(relevant_distances=[2.0])
    first = checkpointed_align(spark, tab, th, ref, cfg, n_partitions=3)
    assert first["computed"] == 3 and first["skipped_committed"] == 0
    # simulate a killed run restarted: everything already committed
    second = checkpointed_align(spark, tab, th, ref, cfg, n_partitions=3)
    assert second["computed"] == 0 and second["skipped_committed"] == 3
    out = tab.read(spark)
    assert out.count() == th.count()  # one row per theme at one rd
    for lin in tab.lineage():
        assert lin["row_count"] >= 0
        if lin["row_count"]:
            assert lin["cell_min"] <= lin["cell_max"]
            assert "avg_sym_perc" in lin and "total_area" in lin


def test_ann_hyperplane_recall_planted(spark):
    """Random-hyperplane ANN: exact duplicates are always recalled
    (shared signature), and 1-bit-away near duplicates are recovered by
    multi-probe. Deterministic corpus — no RNG state."""
    import numpy as np
    import pandas as pd

    from brdrq_spark.operators.dedup import embedding_near_dup
    from brdrq_spark.operators.similarity import (
        hyperplane_signs,
        knn_join_bucketed,
    )

    dim, n = 16, 40
    base = np.array(
        [[np.sin(0.7 * i + 0.3 * d) for d in range(dim)] for i in range(n)]
    )
    rows = [{"vec_id": i, "embedding": base[i].tolist()} for i in range(n)]
    # plant exact duplicates of vectors 0..4 as ids 100..104
    rows += [{"vec_id": 100 + i, "embedding": base[i].tolist()} for i in range(5)]
    emb = spark.createDataFrame(pd.DataFrame(rows))

    out = knn_join_bucketed(
        emb, emb.where("vec_id >= 100"), k=3, n_bits=12, dim=dim
    )
    top1 = {r.q_id: r.c_id for r in out.where("rank = 1").collect()}
    assert top1 == {100 + i: i for i in range(5)}

    pairs = {
        (r.a, r.b)
        for r in embedding_near_dup(
            emb, threshold=0.999, n_bits=12, dim=dim
        ).collect()
    }
    for i in range(5):
        assert (i, 100 + i) in pairs

    # signatures are deterministic and seed-dependent
    s1 = hyperplane_signs(8, dim, seed=7)
    s2 = hyperplane_signs(8, dim, seed=7)
    s3 = hyperplane_signs(8, dim, seed=8)
    assert s1 == s2 and s1 != s3


def test_ann_bucket_cap_deterministic(spark):
    """All-identical vectors land in ONE bucket; the per-bucket cap
    bounds candidates deterministically (lowest ids admitted)."""
    import pandas as pd

    from brdrq_spark.operators.similarity import knn_join_bucketed

    vec = [1.0, -0.5, 0.25, 2.0]
    emb = spark.createDataFrame(
        pd.DataFrame([{"vec_id": i, "embedding": vec} for i in range(30)])
    )
    out = knn_join_bucketed(
        emb,
        emb.where("vec_id = 0"),
        k=50,
        n_bits=8,
        dim=4,
        multi_probe=False,
        max_bucket_size=10,
    ).collect()
    # corpus capped at ids 0..9; query id 0 excluded from its own matches
    assert sorted(r.c_id for r in out) == list(range(1, 10))


def test_rh_signature_dim_mismatch_fails_loudly(spark):
    """A vector whose length != dim must RAISE, not silently bucket
    everything into signature 0: zip_with null-pads the shorter side,
    projections go null, all buckets collapse, and the per-bucket cap
    would then drop recall with no error (ADVICE r3)."""
    import pandas as pd
    import pytest as _pytest

    from pyspark.sql import functions as F

    from brdrq_spark.operators.similarity import rh_signature

    emb = spark.createDataFrame(
        pd.DataFrame([{"vec_id": 0, "embedding": [1.0, 2.0, 3.0]}])
    )
    ok = emb.select(rh_signature(F.col("embedding"), 4, dim=3).alias("s")).collect()
    assert len(ok) == 1 and ok[0].s >= 0
    with _pytest.raises(Exception, match="length != dim"):
        emb.select(rh_signature(F.col("embedding"), 4, dim=8).alias("s")).collect()
    # a NULL embedding is a data gap, not a wiring bug: keeps its
    # historical signature-0 behavior instead of aborting the job
    nulled = spark.createDataFrame(
        pd.DataFrame([{"vec_id": 1, "embedding": None}]),
        schema="vec_id long, embedding array<double>",
    )
    got = nulled.select(rh_signature(F.col("embedding"), 4, dim=3).alias("s")).collect()
    assert got[0].s == 0


def test_null_embeddings_excluded_from_bucketing(spark):
    """NULL embeddings must not pollute bucket 0 (where the per-bucket
    cap would evict real signature-0 vectors) nor emit null-cosine rows
    into top-k — both bucketed paths filter them up front."""
    import pandas as pd

    from pyspark.sql import types as T

    from brdrq_spark.operators.dedup import embedding_near_dup
    from brdrq_spark.operators.similarity import knn_join_bucketed

    vec = [0.5, 1.0, -0.25, 0.75]
    rows = [(i, vec) for i in range(6)] + [(100 + i, None) for i in range(20)]
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    emb = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]), schema)

    out = knn_join_bucketed(
        emb, emb.where("vec_id = 0"), k=30, n_bits=8, dim=4,
        multi_probe=False, max_bucket_size=4,
    ).collect()
    # NULL rows never appear as candidates or emit null-cosine rows
    assert sorted(r.c_id for r in out) == [1, 2, 3]
    assert all(r.cosine is not None for r in out)

    # the assertion that BITES without the filter: a NULL-vector QUERY
    # hashes to signature 0 un-filtered, joins the NULL corpus rows in
    # bucket 0, and row_number ranks their null cosines into the top-k
    # — with the filter the null query produces exactly nothing
    null_q = knn_join_bucketed(
        emb, emb.where("vec_id = 100"), k=30, n_bits=8, dim=4,
        multi_probe=False, max_bucket_size=50,
    ).collect()
    assert null_q == []

    # near-dup smoke: output unpolluted by the null block
    pairs = embedding_near_dup(emb, threshold=0.9, n_bits=8, dim=4).collect()
    assert pairs and all(r.a < 100 and r.b < 100 for r in pairs)


def test_p9_prioritized_field_cap(spark):
    """Keyword-matched fields rank first; the cap drops trailing
    unmatched fields, so a needle present only there does not match
    (reference brdrq_dockwidget_featurealigner.py:505-529)."""
    import pandas as pd

    from brdrq_spark.operators.textstats import (
        prioritized_text_search,
        select_search_fields,
    )

    cols = [f"c{i}" for i in range(14)] + ["my_key", "status_x", "tail_a", "tail_b"]
    sel = select_search_fields(cols)
    assert sel[0] == "my_key" and sel[1] == "status_x"  # matched first
    assert len(sel) == 15 and "tail_b" not in sel

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {**{f"c{i}": "" for i in range(14)},
                 "my_key": "needle-here", "status_x": "", "tail_a": "", "tail_b": ""},
                {**{f"c{i}": "" for i in range(14)},
                 "my_key": "", "status_x": "", "tail_a": "", "tail_b": "needle-here"},
            ]
        )[cols]
    )
    got = prioritized_text_search(df, "NEEDLE").collect()
    assert len(got) == 1 and got[0].my_key == "needle-here"


def test_evaluate_best_strategy_is_argmax(spark, small_tables):
    """STRATEGY_BEST inside evaluate() keeps exactly the rank-1 row per
    theme of the ALL sweep (score desc, rd asc)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from brdrq_spark.operators.evaluate import STRATEGY_BEST, evaluate

    th, ref = small_tables
    sweep = evaluate(spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True)
    best = evaluate(
        spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True,
        prediction_strategy=STRATEGY_BEST,
    )
    w = Window.partitionBy("theme_id").orderBy(
        F.desc("brdr_prediction_score"), F.asc("brdr_relevant_distance")
    )
    expected = {
        (r.theme_id, r.brdr_relevant_distance, r.brdr_prediction_score)
        for r in sweep.withColumn("_rk", F.row_number().over(w))
        .filter("_rk = 1").collect()
    }
    got = {
        (r.theme_id, r.brdr_relevant_distance, r.brdr_prediction_score)
        for r in best.collect()
    }
    assert got == expected and len(got) > 0


def test_rh_signature_quarantine_mode(spark):
    """on_mismatch='quarantine': a wrong-length vector gets a NULL
    signature and silently drops out of the bucketed ANN join instead
    of aborting the run; mismatched_vectors() returns exactly the
    quarantine set, and good vectors keep full planted-dup recall."""
    import pandas as pd
    import pytest

    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from brdrq_spark.operators.similarity import (
        knn_join_bucketed,
        mismatched_vectors,
        rh_signature,
    )

    rows = [{"vec_id": i, "embedding": [float(i), 1.0, -1.0]} for i in range(8)]
    rows.append({"vec_id": 77, "embedding": [9.0, 9.0]})  # wrong length
    rows.append({"vec_id": 88, "embedding": None})
    emb = spark.createDataFrame(pd.DataFrame(rows))

    # quarantine: NULL signature for the bad row, 0 for the null vector
    sigs = {
        r.vec_id: r.s
        for r in emb.select(
            "vec_id",
            rh_signature(
                F.col("embedding"), 4, dim=3, on_mismatch="quarantine"
            ).alias("s"),
        ).collect()
    }
    assert sigs[77] is None
    assert sigs[88] == 0
    assert all(sigs[i] is not None for i in range(8))

    # the raise default still aborts on the same input (regression: the
    # quarantine path must not weaken the loud mode)
    with pytest.raises(Exception):
        emb.select(
            rh_signature(F.col("embedding"), 4, dim=3).alias("s")
        ).collect()

    # quarantine set is exactly the wrong-length row
    assert [r.vec_id for r in mismatched_vectors(emb, "embedding", 3).collect()] == [77]

    # the bucketed join completes and pairs byte-identical duplicates;
    # the quarantined id appears on neither side
    dup = spark.createDataFrame(
        pd.DataFrame(
            [{"vec_id": 1000 + i, "embedding": [float(i), 1.0, -1.0]} for i in range(8)]
            + [{"vec_id": 1077, "embedding": [7.0, 7.0]}]
        )
    )
    out = knn_join_bucketed(
        emb, dup, k=1, n_bits=8, dim=3, on_mismatch="quarantine"
    ).collect()
    got = {r.q_id: r.c_id for r in out if r.rank == 1}
    for i in range(8):
        assert got[1000 + i] == i
    assert 1077 not in got and 77 not in {r.c_id for r in out}

    # invalid mode name is rejected up front
    with pytest.raises(ValueError):
        rh_signature(F.col("embedding"), 4, dim=3, on_mismatch="ignore")
