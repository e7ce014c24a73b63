"""A reference layer prepared once and probed by many alignment calls.

The broadcast path of ``align`` used to decode, cell-explode, repartition
and broadcast the whole reference layer on every call. Each of those
steps is a Python task, and every Python task pays a fixed start-up cost
before it touches a row (~0.1 s for a 1-task job on a 4-core box; see
``brdrq_spark.daemon``), so a one-theme request paid for five jobs to
align ~5 ms of geometry. ``PreparedReference`` pays that once: one collect of the
layer, a cell-sorted CSR index (cell -> reference rows) built on the
driver with the same bbox decode and cover arithmetic the cell join uses
(``candidates.wkb_bboxes`` / ``candidates.cover_cells``), shipped as ONE
``SparkContext.broadcast``. Every operator's candidate path (``align``'s
prepared path and ``candidates.candidate_groups``) probes the index with
``searchsorted`` (``probe``, framed per theme by ``probe_groups``).

Lifecycle: ``PreparedReference.of`` memoizes one instance per
(reference DataFrame, cell resolution, metadata columns), weakly keyed
on the DataFrame object, so repeated ``align`` calls, evaluate, temporal,
the other operators at the same cell resolution and the concurrent shard
threads of ``checkpointed_align`` share one broadcast. The collected and
decoded layer is memoized per (reference DataFrame, metadata columns):
an index at another cell resolution (kNN escalation's rings) is built
from it without collecting the layer again. ``release()`` destroys the
broadcast and drops both memo entries, so the next call rebuilds; a
DataFrame planned against a released instance can no longer run (a
one-theme result, aligned in the driver, is a local relation and does
not depend on it). When the reference DataFrame is
garbage-collected, a weakref finalizer only unpersists the broadcast
(drops its executor copies): a result planned against it may outlive the
reference object (a function that returns a lazy align of a layer it
read), so the driver copy stays until Spark's ContextCleaner reclaims it
with the last plan that uses it.
"""

from __future__ import annotations

import threading
import weakref

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from brdrq_spark.operators.candidates import cover_cells, wkb_bboxes

# guards the memo and serializes builds: concurrent shard threads asking
# for the same layer must wait for one build, not start their own
_LOCK = threading.Lock()
_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_LAYERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _layer(ref_df: DataFrame, version_col: str | None) -> dict:
    """The reference rows of ``ref_df``, collected once per
    ``version_col`` (callers hold ``_LOCK``): ``ids``, ``wkb`` and
    ``versions`` sorted by (ref_id, WKB), with their bboxes ``bb`` and
    ``has`` (``candidates.wkb_bboxes``)."""
    per_df = _LAYERS.setdefault(ref_df, {})
    layer = per_df.get(version_col)
    if layer is not None:
        return layer
    cols = [F.col("ref_id"), F.col("geom_wkb")]
    if version_col is not None:
        cols.append(
            (
                F.col(version_col).cast("string")
                if version_col in ref_df.columns
                else F.lit(None).cast("string")
            ).alias("ref_version")
        )
    rows = ref_df.select(*cols).collect()
    # a fixed row order whatever order the collect returned: the
    # kernel sees candidates in this order
    rows.sort(key=lambda r: (str(r.ref_id), bytes(r.geom_wkb or b"")))
    wkb = [None if r.geom_wkb is None else bytes(r.geom_wkb) for r in rows]
    bb, has = wkb_bboxes(wkb)
    layer = per_df[version_col] = {
        "ids": [r.ref_id for r in rows],
        "wkb": wkb,
        "versions": None if version_col is None else [r.ref_version for r in rows],
        "bb": bb,
        "has": has,
    }
    return layer


def _unpersist(sc, bc) -> None:
    # the context may be stopped before the DataFrame is collected
    if sc._jsc is not None:
        bc.unpersist()


class PreparedReference:
    """The reference layer as one broadcast index. ``broadcast.value`` is
    a dict: ``ids``, ``wkb`` and ``versions`` (None unless a version
    column was requested) per reference row, sorted by (ref_id, WKB);
    ``bb`` (n, 4) bboxes; and the CSR index ``cells`` (sorted unique
    cell ids), ``offsets`` and ``rows`` — the reference rows covering
    ``cells[k]`` are ``rows[offsets[k]:offsets[k + 1]]``, ascending."""

    @classmethod
    def of(
        cls,
        spark: SparkSession,
        ref_df: DataFrame,
        res: int,
        version_col: str | None = None,
    ) -> PreparedReference:
        """The shared instance for (ref_df, res, version_col), built on
        first use."""
        key = (res, version_col)
        with _LOCK:
            per_df = _MEMO.setdefault(ref_df, {})
            prepared = per_df.get(key)
            if prepared is None:
                prepared = per_df[key] = cls(spark, ref_df, res, version_col)
        return prepared

    def __init__(self, spark, ref_df, res, version_col):
        self.key = (res, version_col)
        layer = _layer(ref_df, version_col)
        bb, has = layer["bb"], layer["has"]
        ref_rows = np.nonzero(has)[0]
        counts, cells = cover_cells(bb[has], res, 0.0)
        cell_rows = np.repeat(ref_rows, counts)
        order = np.lexsort((cell_rows, cells))
        cells, cell_rows = cells[order], cell_rows[order]
        uniq, start = np.unique(cells, return_index=True)
        payload = {
            "ids": layer["ids"],
            "wkb": layer["wkb"],
            "versions": layer["versions"],
            "bb": bb,
            "cells": uniq,
            "offsets": np.append(start, len(cells)).astype(np.int64),
            "rows": cell_rows.astype(np.int64),
        }
        sc = spark.sparkContext
        self.broadcast = sc.broadcast(payload)
        self._owner = weakref.ref(ref_df)
        self._finalizer = weakref.finalize(ref_df, _unpersist, sc, self.broadcast)
        self._finalizer.atexit = False

    def release(self) -> None:
        """Destroy the broadcast and forget this instance; the next
        ``of`` call for the same layer rebuilds. DataFrames already
        planned against this instance can no longer run."""
        if self._finalizer.detach() is not None:
            self.broadcast.destroy()
        with _LOCK:
            ref_df = self._owner()
            per_df = _MEMO.get(ref_df) if ref_df is not None else None
            if per_df is not None and per_df.get(self.key) is self:
                del per_df[self.key]
                _LAYERS.get(ref_df, {}).pop(self.key[1], None)


def probe(index: dict, bb: np.ndarray, res: int, dilate: float, reach: float):
    """Candidate (theme_row, ref_row) pairs of the themes with bboxes
    ``bb`` (n, 4), unique and sorted by theme row, then reference row:
    reference rows sharing a cell with the theme's cover at ``dilate``,
    kept when their bbox distance is <= ``reach`` — the same cover and
    the same distance expression as the cell-join plan, so both produce
    the same pairs."""
    empty = np.zeros(0, dtype=np.int64)
    icells = index["cells"]
    if not len(bb) or not len(icells):
        return empty, empty
    counts, cells = cover_cells(bb, res, dilate)
    t_of_cell = np.repeat(np.arange(len(bb)), counts)
    pos = np.searchsorted(icells, cells)
    hit = pos < len(icells)
    hit[hit] = icells[pos[hit]] == cells[hit]
    pos, t_of_cell = pos[hit], t_of_cell[hit]
    lo = index["offsets"][pos]
    n = index["offsets"][pos + 1] - lo
    t = np.repeat(t_of_cell, n)
    k = np.arange(int(n.sum()), dtype=np.int64) - np.repeat(np.cumsum(n) - n, n)
    r = index["rows"][np.repeat(lo, n) + k]
    tb, rb = bb[t], index["bb"][r]
    dx = np.maximum(np.maximum(tb[:, 0] - rb[:, 2], rb[:, 0] - tb[:, 2]), 0.0)
    dy = np.maximum(np.maximum(tb[:, 1] - rb[:, 3], rb[:, 1] - tb[:, 3]), 0.0)
    near = np.sqrt(dx * dx + dy * dy) <= reach
    n_ref = len(index["wkb"])
    pair = np.unique(t[near] * n_ref + r[near])
    return pair // n_ref, pair % n_ref


def probe_groups(
    pdf, index: dict, res: int, dilate: float, reach: float,
    bboxes=None, outer: bool = True, ids: bool = False,
):
    """Per-theme candidate frames of one pandas batch of theme rows,
    from ``probe``: each row's columns (``geom_wkb`` renamed
    ``theme_wkb``, as ``cells_exploded`` ships it) repeated once per
    candidate, with ``ref_wkb``, plus ``ref_id`` when ``ids`` and
    ``ref_version`` when the index carries versions. ``bboxes`` maps
    the batch to ``(bb, has)``, None decodes polygon WKB. A theme
    without candidates yields one row with NULL reference columns when
    ``outer``, and nothing otherwise."""
    import pandas as pd

    bb, has = bboxes(pdf) if bboxes else wkb_bboxes(pdf["geom_wkb"].tolist())
    rows = np.nonzero(has)[0]
    t, r = probe(index, bb[has], res, dilate, reach)
    bounds = np.searchsorted(rows[t], np.arange(len(pdf) + 1))
    values = {
        "theme_wkb" if c == "geom_wkb" else c: pdf[c].tolist() for c in pdf.columns
    }
    refs = {"ref_wkb": index["wkb"]}
    if ids:
        refs["ref_id"] = index["ids"]
        if index["versions"] is not None:
            refs["ref_version"] = index["versions"]
    for i in range(len(pdf)):
        cand = r[bounds[i]:bounds[i + 1]].tolist()
        if not cand:
            if not outer:
                continue
            cand = [None]
        n = len(cand)
        data = {c: [v[i]] * n for c, v in values.items()}
        for c, v in refs.items():
            data[c] = [None if j is None else v[j] for j in cand]
        yield pd.DataFrame(data)
