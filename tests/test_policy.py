"""O5 admission-control / adaptive grid-step policy tests.

Threshold sources (pinned one-for-one): constants
brdrq_dockwidget_aligner.py:63-68 (max_area_optimization 1e5 m²,
max_area_limit 1e6 m², max_rel_dist_optimization 7.5 m), step values
brdrq_settings.py:70-73 (small 10 / mid 20 / big 50 cm), decision chain
brdrq_dockwidget_featurealigner.py:1272-1299.
"""

import numpy as np
import pandas as pd
import pytest

from brdrq_spark.geom import rings_to_wkb
from brdrq_spark.operators.evaluate import adaptive_grid


@pytest.mark.parametrize(
    "area,max_rd,exp_step,exp_blocked",
    [
        # plain small feature, small rd -> small step
        (1e4, 5.0, 0.10, False),
        # area branch: > 1e5 m2 -> big step
        (2e5, 5.0, 0.50, False),
        # reference's if/elif quirk: the rd branch OVERWRITES the area
        # branch — big area + rd in (7.5, 15] resolves to the MID step
        (2e5, 10.0, 0.20, False),
        # rd branch alone: (7.5, 15] -> mid, > 15 -> big
        (1e4, 10.0, 0.20, False),
        (1e4, 16.0, 0.50, False),
        (2e5, 16.0, 0.50, False),
        # boundaries are strict (> not >=), matching the reference
        (1e5, 5.0, 0.10, False),
        (1e4, 7.5, 0.10, False),
        (1e4, 15.0, 0.20, False),
        # blocked: > 1e6 m2
        (2e6, 5.0, None, True),
        (1e6, 5.0, 0.50, False),  # exactly at the limit: admitted, big step
    ],
)
def test_adaptive_grid_reference_thresholds(area, max_rd, exp_step, exp_blocked):
    step, blocked = adaptive_grid(area, max_rd)
    assert blocked is exp_blocked
    if exp_step is not None:
        assert step == pytest.approx(exp_step)


def _rect_wkb(x0, y0, w, h):
    return rings_to_wkb(
        [np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]])]
    )


def test_evaluate_auto_step_blocks_and_coarsens(spark):
    """evaluate(auto_step=True): the >1e6 m² theme is excluded from the
    sweep but reported as an explicit blocked_by_area row (the
    reference blocks it loudly, featurealigner.py:1279-1284), and the
    grid step is PER FEATURE, as the reference's chain resolves it
    per feature: the 250000 m² theme (> 1e5) sweeps the coarse 50 cm
    grid {0, .5, 1, 1.5, 2} while the 100 m² theme CO-SWEPT WITH IT
    keeps its fine 10 cm grid — it must be able to land on an
    off-coarse-grid distance."""
    from brdrq_spark.operators.evaluate import evaluate

    themes = spark.createDataFrame(
        pd.DataFrame(
            [
                # 0.3 m snap offset: its prediction plateau starts at an
                # off-coarse-grid rd (0.3-0.4), unreachable on a 50 cm grid
                {"theme_id": "t_small", "geom_wkb": _rect_wkb(0.3, 0.2, 10, 10)},
                {"theme_id": "t_big", "geom_wkb": _rect_wkb(1000.4, 0.3, 500, 500)},
                # 1100 x 1100 = 1.21e6 m2 -> blocked
                {"theme_id": "t_blocked", "geom_wkb": _rect_wkb(5000.0, 0.0, 1100, 1100)},
            ]
        )
    )
    refs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"ref_id": "r_small", "geom_wkb": _rect_wkb(0, 0, 10, 10)},
                {"ref_id": "r_big", "geom_wkb": _rect_wkb(1000, 0, 500, 500)},
                {"ref_id": "r_blocked", "geom_wkb": _rect_wkb(5000, 0, 1100, 1100)},
            ]
        )
    )
    out = evaluate(
        spark, themes, refs, max_rd=2.0, step=0.1, auto_step=True,
        broadcast_ref=True, min_stable=2,
    )
    rows = out.select(
        "theme_id", "brdr_relevant_distance", "brdr_evaluation"
    ).collect()
    blocked = [r for r in rows if r.theme_id == "t_blocked"]
    # exactly one explicit sentinel row, never a swept prediction
    assert len(blocked) == 1
    assert blocked[0].brdr_evaluation == "blocked_by_area"
    assert blocked[0].brdr_relevant_distance is None
    coarse = {0.0, 0.5, 1.0, 1.5, 2.0}
    big = {round(r.brdr_relevant_distance, 2) for r in rows if r.theme_id == "t_big"}
    small = {
        round(r.brdr_relevant_distance, 2) for r in rows if r.theme_id == "t_small"
    }
    assert big and big <= coarse           # big theme: 50 cm grid only
    assert small and not (small <= coarse)  # small theme: fine 10 cm grid


@pytest.mark.parametrize("max_rd", [2.0, 2.2])
def test_fused_auto_step_matches_per_bucket_aligns(spark, max_rd):
    """The fused auto_step sweep (one kernel pass, each theme's grid from
    its own area) must produce EXACTLY the rows of the two-bucket
    formulation: evaluate(small themes, fine grid) union evaluate(big
    themes, coarse grid), value for value. min_stable=1 makes every run
    of equal sym-diff index a prediction scored by its length, so the
    prediction rows tile each theme's whole sweep. max_rd=2.2 exercises
    the non-step-multiple case where an overshooting kernel grid
    (2.5 > 2.2) would out-sweep the candidate dilation sized from
    max(relevant_distances) (ADVICE r6)."""
    from pyspark.sql import functions as F

    from brdrq_spark.operators.align import distance_grid
    from brdrq_spark.operators.evaluate import evaluate

    themes = spark.createDataFrame(
        pd.DataFrame(
            [
                {"theme_id": "t_small", "geom_wkb": _rect_wkb(0.3, 0.2, 10, 10)},
                {"theme_id": "t_small2", "geom_wkb": _rect_wkb(20.2, 0.1, 10, 10)},
                {"theme_id": "t_big", "geom_wkb": _rect_wkb(1000.4, 0.3, 500, 500)},
            ]
        )
    )
    refs = spark.createDataFrame(
        pd.DataFrame(
            [
                {"ref_id": "r_small", "geom_wkb": _rect_wkb(0, 0, 10, 10)},
                {"ref_id": "r_small2", "geom_wkb": _rect_wkb(20, 0, 10, 10)},
                {"ref_id": "r_big", "geom_wkb": _rect_wkb(1000, 0, 500, 500)},
            ]
        )
    )
    fine, coarse = 0.1, 0.5

    def sweep(th, **kw):
        return evaluate(
            spark, th, refs, max_rd=max_rd, min_stable=1, broadcast_ref=True, **kw
        ).collect()

    fused = sweep(themes, auto_step=True)
    small_part = sweep(themes.where(F.col("theme_id") != "t_big"), step=fine)
    big_part = sweep(themes.where(F.col("theme_id") == "t_big"), step=coarse)
    assert sorted(fused) == sorted(small_part + big_part)
    swept = {}
    for r in fused:
        swept[r.theme_id] = swept.get(r.theme_id, 0) + r.brdr_prediction_score
    assert swept == {
        "t_small": len(distance_grid(max_rd, fine)),
        "t_small2": len(distance_grid(max_rd, fine)),
        "t_big": len(distance_grid(max_rd, coarse)),
    }
