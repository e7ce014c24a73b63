"""Hot-cell salting (SURVEY.md O6: dense areas make hot cells,
reference docs/qa.qmd:19-40). The salted shuffle join must return the
identical candidate set while spreading a dominant cell key over
``salt`` sub-keys."""

import numpy as np
import pandas as pd

from brdrq_spark.geom import rings_to_wkb


def _hot_cell_tables(spark, n_themes=60, n_refs=40):
    """Everything crammed into one ~32 m cell: one dominant join key."""
    rng = np.random.default_rng(5)
    base = np.array([170500.0, 170500.0])
    refs = []
    for i in range(n_refs):
        o = base + rng.uniform(0, 24, 2)
        ring = np.array([o, o + [3, 0], o + [3, 3], o + [0, 3]])
        refs.append({"ref_id": f"r{i:03d}", "geom_wkb": rings_to_wkb([ring])})
    themes = []
    for i in range(n_themes):
        o = base + rng.uniform(0, 24, 2)
        ring = np.array([o, o + [2, 0], o + [2, 2], o + [0, 2]])
        themes.append({"theme_id": f"t{i:03d}", "geom_wkb": rings_to_wkb([ring])})
    return (
        spark.createDataFrame(pd.DataFrame(themes)),
        spark.createDataFrame(pd.DataFrame(refs)),
    )


def test_salted_join_matches_unsalted(spark, candidate_pairs):
    th, ref = _hot_cell_tables(spark)
    plain = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=False).collect()
    }
    salted = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(
            th, ref, max_rd=2.0, broadcast_ref=False, salt=8
        ).collect()
    }
    probed = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=True).collect()
    }
    assert plain == salted == probed
    assert len(plain) > 100  # the hot cell really is dense


def test_salt_ignored_with_broadcast(spark, candidate_pairs):
    th, ref = _hot_cell_tables(spark, 10, 10)
    a = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=True, salt=8).collect()
    }
    b = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=True).collect()
    }
    assert a == b


def test_full_reference_strategies(spark):
    from brdrq_spark.operators.evaluate import (
        FULL_REF_ONLY,
        FULL_REF_PREFER,
        evaluate,
    )
    from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

    ref = spark.createDataFrame(reference_parcels(8, 8, seed=13))
    th = spark.createDataFrame(thematic_polygons(4, 8, 8, seed=13, jitter=0.8))
    base = evaluate(spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True).collect()
    only = evaluate(
        spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True,
        full_reference_strategy=FULL_REF_ONLY,
    ).collect()
    prefer = evaluate(
        spark, th, ref, max_rd=2.0, step=0.5, broadcast_ref=True,
        full_reference_strategy=FULL_REF_PREFER,
    ).collect()
    assert all(r.brdr_full_actual for r in only)
    assert len(only) <= len(base)
    boosted = {
        (r.theme_id, r.brdr_relevant_distance): r.brdr_prediction_score for r in prefer
    }
    for r in base:
        k = (r.theme_id, r.brdr_relevant_distance)
        if k in boosted and r.brdr_full_actual:
            assert boosted[k] == r.brdr_prediction_score * 1.5


def test_align_fused_path_salting_same_output(spark):
    """The fused align() now takes AlignConfig.salt for the shuffle-join
    path (VERDICT r1: only candidate_pairs had it); salted and unsalted
    runs produce identical results."""
    from brdrq_spark.operators.align import AlignConfig, align
    from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

    ref = spark.createDataFrame(reference_parcels(8, 8, seed=3))
    th = spark.createDataFrame(thematic_polygons(12, 8, 8, seed=3, jitter=1.0))
    plain = {
        r.theme_id: round(r.brdr_area, 9)
        for r in align(
            spark, th, ref, AlignConfig(relevant_distances=[2.0]), broadcast_ref=False
        ).collect()
    }
    salted = {
        r.theme_id: round(r.brdr_area, 9)
        for r in align(
            spark,
            th,
            ref,
            AlignConfig(relevant_distances=[2.0], salt=4),
            broadcast_ref=False,
        ).collect()
    }
    assert plain == salted and len(plain) == 12


def test_adaptive_hot_cell_split_same_pairs(spark, candidate_pairs):
    """north_star: adaptive cell-level splitting of hot cells — one
    dense cell's pairs spread over finer join keys with IDENTICAL
    candidate output."""
    import numpy as np
    import pandas as pd

    from brdrq_spark.geom import rings_to_wkb

    rng = np.random.default_rng(11)

    def small_sq(cx, cy, s=1.2):
        return rings_to_wkb(
            [np.array([[cx, cy], [cx + s, cy], [cx + s, cy + s], [cx, cy + s]])]
        )

    # 120 tiny parcels crammed into one 32 m cell (dense urban block) +
    # a sparse ring elsewhere
    refs = [
        {"ref_id": f"d{i}", "geom_wkb": small_sq(4.0 + 2.5 * (i % 10), 4.0 + 2.5 * (i // 10))}
        for i in range(120)
    ] + [
        {"ref_id": f"s{i}", "geom_wkb": small_sq(200.0 + 40.0 * i, 5.0)}
        for i in range(5)
    ]
    themes = [
        {"theme_id": f"t{i}", "geom_wkb": small_sq(4.5 + 2.5 * (i % 10), 4.5 + 2.5 * (i // 10))}
        for i in range(60)
    ]
    ref = spark.createDataFrame(pd.DataFrame(refs))
    th = spark.createDataFrame(pd.DataFrame(themes))

    base = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=False).collect()
    }
    adaptive = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(
            th, ref, max_rd=2.0, broadcast_ref=False, hot_cell_threshold=20
        ).collect()
    }
    assert adaptive == base and len(base) > 100


def test_auto_hot_cell_threshold(spark, candidate_pairs):
    """hot_cell_threshold="auto" self-tunes from the cell-count stats: a
    100x-dense urban block (one cell owning ~400 reference parcels — a
    straggler task under the default no-split path) splits without any
    operator tuning, candidate output identical; a uniform tessellation
    sits under the floor and splits nothing (no overhead)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from brdrq_spark.geom import rings_to_wkb
    from brdrq_spark.grid import pick_resolution
    from brdrq_spark.operators.candidates import cells_exploded, split_hot_cells

    def small_sq(cx, cy, s=1.1):
        return rings_to_wkb(
            [np.array([[cx, cy], [cx + s, cy], [cx + s, cy + s], [cx, cy + s]])]
        )

    # 400 parcels at 1.3 m pitch -> a ~26 m block inside one 32 m cell,
    # plus a sparse background that pins the median cells-per-cell at 1
    refs = [
        {"ref_id": f"d{i}", "geom_wkb": small_sq(3.0 + 1.3 * (i % 20), 3.0 + 1.3 * (i // 20))}
        for i in range(400)
    ] + [
        {"ref_id": f"s{i}", "geom_wkb": small_sq(500.0 + 150.0 * i, 5.0)}
        for i in range(40)
    ]
    themes = [
        {"theme_id": f"t{i}", "geom_wkb": small_sq(3.4 + 1.3 * (i % 20), 3.4 + 1.3 * (i // 20))}
        for i in range(50)
    ]
    ref = spark.createDataFrame(pd.DataFrame(refs))
    th = spark.createDataFrame(pd.DataFrame(themes))

    base = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=False).collect()
    }
    auto = {
        (r.theme_id, r.ref_id)
        for r in candidate_pairs(
            th, ref, max_rd=2.0, broadcast_ref=False, hot_cell_threshold="auto"
        ).collect()
    }
    assert auto == base and len(base) > 400

    # straggler evidence on the join-key tables themselves
    res = pick_resolution(2.0)
    dilate = 2.0 * 2.0 * 1.01
    t = cells_exploded(th.select("theme_id", "geom_wkb"), "theme_id", res, dilate, "t")
    r = cells_exploded(ref.select("ref_id", "geom_wkb"), "ref_id", res, 0.0, "r")

    def max_per_key(df):
        return df.groupBy("cell").count().agg(F.max("count")).first()[0]

    before = max_per_key(r)
    assert before >= 100  # the dense cell IS a straggler key untreated
    t2, r2 = split_hot_cells(t, r, res, dilate, "auto")
    assert max_per_key(r2) <= before / 3  # auto split spread it out

    # uniform input: nothing crosses the auto cutoff, tables unchanged
    uref = spark.createDataFrame(
        pd.DataFrame(
            [
                {"ref_id": f"u{i}", "geom_wkb": small_sq(10.0 * (i % 12), 10.0 * (i // 12))}
                for i in range(144)
            ]
        )
    )
    ru = cells_exploded(uref.select("ref_id", "geom_wkb"), "ref_id", res, 0.0, "r")
    _, ru2 = split_hot_cells(t, ru, res, dilate, "auto")
    assert ru2.count() == ru.count()
