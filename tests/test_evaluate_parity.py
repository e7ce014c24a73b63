"""evaluate's output pinned row for row: sha256 digests of the sorted
rows, all columns (and the schema), of the sweep scorer that ran as
Spark window algebra over the align output, before the scoring moved
into the align kernel. The ``grid`` digests were re-captured once since,
when the stitch stopped dropping rings at inverted crossings
(``geom/clip.py``); the in-kernel scorer as it was before equality_by_id
moved into the kernel, with only that fix, gives the same digests.

The 64-theme set on ``reference_parcels(16, 16)`` holds 59 jittered
parcels (each claiming its source parcel through ``claimed_ref``), an
exact copy of a parcel, a copy claiming a neighbour, a theme above the
1e6 m² admission limit, an empty geometry and a two-part theme. The
strategy matrix (ALL / BEST / ORIGINAL × NO / ONLY / PREFER full
reference × max_predictions -1 / 1 / 4 × ``ref_key_col`` unset / set)
runs on the prepared path as an orthogonal array; a cross-section runs
on the cell join and on the size rule, and ``auto_step`` on all three.
The closed-form squares of ``__spark_entry__.q_evaluate_closed_form``
fire every equality label.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from brdrq_spark.geom import rings_from_wkb, rings_to_wkb
from brdrq_spark.operators.align import AlignConfig
from brdrq_spark.operators.evaluate import evaluate
from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

SEED = 3


def _grid_tables() -> tuple[pd.DataFrame, pd.DataFrame]:
    ref = reference_parcels(16, 16, seed=SEED)
    by_cell = {rid[-10:]: rid for rid in ref.ref_id}
    th = thematic_polygons(59, 16, 16, seed=SEED, jitter=0.8, node_seed=SEED)
    th = th[["theme_id", "geom_wkb"]].assign(claimed_ref=[by_cell[c] for c in th.src_parcel])
    a = ref.iloc[17]
    b = ref.iloc[18]
    square = [np.array([[0.0, 0], [1100, 0], [1100, 1100], [0, 1100]]) + 168000.0]
    two = rings_from_wkb(th.geom_wkb.iloc[3]) + rings_from_wkb(th.geom_wkb.iloc[40])
    extra = pd.DataFrame(
        [
            {"theme_id": "copy", "geom_wkb": a.geom_wkb, "claimed_ref": a.ref_id},
            {"theme_id": "copy_wrong_key", "geom_wkb": b.geom_wkb, "claimed_ref": a.ref_id},
            {"theme_id": "blocked", "geom_wkb": rings_to_wkb(square), "claimed_ref": None},
            {"theme_id": "empty", "geom_wkb": rings_to_wkb([]), "claimed_ref": None},
            {"theme_id": "two_part", "geom_wkb": rings_to_wkb(two), "claimed_ref": a.ref_id},
        ]
    )
    return pd.concat([th, extra], ignore_index=True), ref


def _square_tables() -> tuple[pd.DataFrame, pd.DataFrame]:
    """The closed-form equality fixture of q_evaluate_closed_form, plus
    a strip parcel for each of the unchanged t20 and t30: 0.4 m inside
    the theme and 1.2 m outside, it is dropped as a sliver from rd 0.5
    and adopted whole from rd 1.5, so those themes have two predictions
    and the first one leaves them unchanged."""

    def rect(x0, w):
        return rings_to_wkb(
            [np.array([[x0, 0.0], [x0 + w, 0.0], [x0 + w, 10.0], [x0, 10.0]])]
        )

    n = 40
    refs = [{"ref_id": f"r{i}", "geom_wkb": rect(20.0 * i, 10.0)} for i in range(n)]
    for i in range(10, n, 20):
        refs.append({"ref_id": f"r{i}a", "geom_wkb": rect(20.0 * i, 5.0)})
        refs.append({"ref_id": f"r{i}b", "geom_wkb": rect(20.0 * i + 5.0, 5.0)})
    for i in (20, 30):
        refs.append({"ref_id": f"q{i}", "geom_wkb": rect(20.0 * i + 9.6, 1.6)})
    th = pd.DataFrame(
        [
            {
                "theme_id": f"t{i}",
                "geom_wkb": rect(20.0 * i + 0.1 * (i % 5), 10.0),
                "claimed_ref": f"r{i}" if i % 10 == 0 else None,
            }
            for i in range(n)
        ]
    )
    return th, pd.DataFrame(refs)


GRID = dict(max_rd=2.0, step=0.5)
STRATEGIES = ("ALL", "BEST", "ORIGINAL")
FULL_REFERENCE = ("NO_FULL_REFERENCE", "ONLY_FULL_REFERENCE", "PREFER_FULL_REFERENCE")
MAX_PREDICTIONS = (-1, 1, 4)
KEYS = (None, "claimed_ref", "claimed_ref")


def grid_case(ps: str, fr: str, mp: int, key: str | None, broadcast_ref, label: str):
    return f"grid-{ps}-{fr.split('_')[0]}-{mp}-{key or 'nokey'}-{label}", (
        "grid",
        dict(GRID, prediction_strategy=ps, full_reference_strategy=fr,
             max_predictions=mp, ref_key_col=key, broadcast_ref=broadcast_ref),
    )


# the strategy matrix as an L9 orthogonal array: every pair of levels of
# any two factors occurs (the full 54-case product took ~2.5 s a case)
CASES: dict[str, tuple[str, dict]] = dict(
    grid_case(STRATEGIES[a], FULL_REFERENCE[b], MAX_PREDICTIONS[c], KEYS[d], True, "prepared")
    for a, b, c, d in (
        (0, 0, 0, 0), (0, 1, 1, 1), (0, 2, 2, 2), (1, 0, 1, 2), (1, 1, 2, 0),
        (1, 2, 0, 1), (2, 0, 2, 1), (2, 1, 0, 2), (2, 2, 1, 0),
    )
)
for _br, _label in ((False, "join"), (None, "rule")):
    CASES.update([
        grid_case("ALL", "NO_FULL_REFERENCE", -1, None, _br, _label),
        grid_case("ORIGINAL", "PREFER_FULL_REFERENCE", 4, "claimed_ref", _br, _label),
    ])
for _br, _label in ((True, "prepared"), (False, "join"), (None, "rule")):
    CASES[f"grid-auto_step-BEST-{_label}"] = (
        "grid",
        dict(max_rd=1.0, auto_step=True, prediction_strategy="BEST",
             ref_key_col="claimed_ref", broadcast_ref=_br),
    )
for _ps in ("ALL", "BEST", "ORIGINAL"):
    CASES[f"squares-{_ps}"] = (
        "squares",
        dict(GRID, prediction_strategy=_ps, ref_key_col="claimed_ref",
             broadcast_ref=True,
             config=AlignConfig(relevant_distances=[2.0], od_strategy="EXCLUDE")),
    )
for _br, _label in ((True, "prepared"), (False, "join")):
    # every run a prediction: most themes have several, and ORIGINAL
    # swaps their results
    CASES[f"grid-ORIGINAL-min_stable_1-{_label}"] = (
        "grid",
        dict(GRID, prediction_strategy="ORIGINAL", max_predictions=4,
             min_stable=1, ref_key_col="claimed_ref", broadcast_ref=_br),
    )
CASES["one-two_part-ORIGINAL"] = (
    "two_part",
    dict(GRID, prediction_strategy="ORIGINAL", ref_key_col="claimed_ref",
         broadcast_ref=True),
)
CASES["one-blocked-auto_step"] = (
    "blocked", dict(max_rd=1.0, auto_step=True, broadcast_ref=True),
)
CASES["one-copy-auto_step"] = (
    "copy", dict(max_rd=1.0, auto_step=True, broadcast_ref=True, eps=1e-4,
                 min_stable=3),
)


def case_frames(spark) -> dict:
    """table set name -> (themes, reference) DataFrames."""
    th, ref = _grid_tables()
    sq_th, sq_ref = _square_tables()
    grid_th = spark.createDataFrame(th)
    grid_ref = spark.createDataFrame(ref)
    out = {
        "grid": (grid_th, grid_ref),
        "squares": (spark.createDataFrame(sq_th), spark.createDataFrame(sq_ref)),
    }
    for name in ("two_part", "blocked", "copy"):
        out[name] = (spark.createDataFrame(th[th.theme_id == name]), grid_ref)
    return out


def _value(v):
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha256(bytes(v)).hexdigest()
    if isinstance(v, list):
        return tuple(v)
    return v


def digest(df) -> str:
    h = hashlib.sha256(df.schema.simpleString().encode())
    for line in sorted(repr(tuple(_value(v) for v in r)) for r in df.collect()):
        h.update(line.encode())
    return h.hexdigest()


def run_case(spark, frames: dict, name: str):
    tables, kw = CASES[name]
    th, ref = frames[tables]
    return evaluate(spark, th, ref, **kw)


DIGESTS: dict[str, str] = {
    "grid-ALL-NO--1-nokey-join":
        "c456240831f8f4117d38027b7513001c4ee2ced344fdda47e795510fbe27f679",
    "grid-ALL-NO--1-nokey-prepared":
        "c456240831f8f4117d38027b7513001c4ee2ced344fdda47e795510fbe27f679",
    "grid-ALL-NO--1-nokey-rule":
        "c456240831f8f4117d38027b7513001c4ee2ced344fdda47e795510fbe27f679",
    "grid-ALL-ONLY-1-claimed_ref-prepared":
        "8f4ee929520b3299ce127f5b17022022b5ebe323641d139cdd17dc6084bae1b6",
    "grid-ALL-PREFER-4-claimed_ref-prepared":
        "db75210977e5f1024f41bff8d9065480820161bf12d3bc6d1dde63b6f940eadf",
    "grid-BEST-NO-1-claimed_ref-prepared":
        "c456240831f8f4117d38027b7513001c4ee2ced344fdda47e795510fbe27f679",
    "grid-BEST-ONLY-4-nokey-prepared":
        "8f4ee929520b3299ce127f5b17022022b5ebe323641d139cdd17dc6084bae1b6",
    "grid-BEST-PREFER--1-claimed_ref-prepared":
        "db75210977e5f1024f41bff8d9065480820161bf12d3bc6d1dde63b6f940eadf",
    "grid-ORIGINAL-NO-4-claimed_ref-prepared":
        "c456240831f8f4117d38027b7513001c4ee2ced344fdda47e795510fbe27f679",
    "grid-ORIGINAL-ONLY--1-claimed_ref-prepared":
        "8f4ee929520b3299ce127f5b17022022b5ebe323641d139cdd17dc6084bae1b6",
    "grid-ORIGINAL-PREFER-1-nokey-prepared":
        "db75210977e5f1024f41bff8d9065480820161bf12d3bc6d1dde63b6f940eadf",
    "grid-ORIGINAL-PREFER-4-claimed_ref-join":
        "db75210977e5f1024f41bff8d9065480820161bf12d3bc6d1dde63b6f940eadf",
    "grid-ORIGINAL-PREFER-4-claimed_ref-rule":
        "db75210977e5f1024f41bff8d9065480820161bf12d3bc6d1dde63b6f940eadf",
    "grid-ORIGINAL-min_stable_1-join":
        "b4c456eb38b60059fd11041b1ea277373da6c3de6f365ac84dd0abdafd959128",
    "grid-ORIGINAL-min_stable_1-prepared":
        "b4c456eb38b60059fd11041b1ea277373da6c3de6f365ac84dd0abdafd959128",
    "grid-auto_step-BEST-join":
        "9f6d912bd7085e222ecb04529e581f7acd6def0f5805f1d3064c45e3a20e25c2",
    "grid-auto_step-BEST-prepared":
        "9f6d912bd7085e222ecb04529e581f7acd6def0f5805f1d3064c45e3a20e25c2",
    "grid-auto_step-BEST-rule":
        "9f6d912bd7085e222ecb04529e581f7acd6def0f5805f1d3064c45e3a20e25c2",
    "one-blocked-auto_step":
        "26dd170e5a80612b0658e4cc1cc1e7ead7cace9107197d816f7e3274080663c0",
    "one-copy-auto_step":
        "a31d5fdea9a78bf50493ac24382aea71b242b941eba9cfc84d9ed36f405f62c7",
    "one-two_part-ORIGINAL":
        "527779d3f645d779ae5a349d48c72fab25b0ebf4887ca7063a3fd196fb5fb5dc",
    "squares-ALL":
        "0e21c49c9b05d56213949ecee833ea50df89600f6e95c9b2db6db39565d8a794",
    "squares-BEST":
        "b28255a619ef8fc7c74dcb41973acde5aa0b5d5bafb29edc4ff39b595c7bd737",
    "squares-ORIGINAL":
        "a15fd9b11f6aaea417daa49423c1747ff6423e0eed322250bfa7cbc83df541eb",
}


@pytest.fixture(scope="module")
def frames(spark):
    return case_frames(spark)


@pytest.mark.parametrize("name", sorted(CASES))
def test_evaluate_rows_match_window_algebra(spark, frames, name):
    assert digest(run_case(spark, frames, name)) == DIGESTS[name]
