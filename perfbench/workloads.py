"""The two benchmark workloads: seeded inputs, one measured operation,
its correctness checks, and the layer probes of a traced run.

A workload instance owns its generated inputs (parquet files under the
run's work directory plus the pandas frames the checks compare against);
the engine only ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from brdrq_spark.geom import bbox, bbox_distance, rings_area, rings_from_wkb
from brdrq_spark.geom.buffer import erode_nonempty
from brdrq_spark.geom.clip import area_of_op, boolean_op_multi
from brdrq_spark.operators.align import AlignConfig, align, distance_grid
from brdrq_spark.sources.synthetic import (
    images_table,
    reference_parcels,
    thematic_polygons,
)

GRID = 64  # 64 x 64 = 4096 reference parcels, every workload
# The reference layer is one fixed cadastral map (as a real one would be);
# the seed varies the thematic data: jitter, images, request order. A
# seeded tessellation changes the kernel work per theme by up to ~30%
# between seeds, which would swamp run-to-run comparisons.
REF_SEED = 42
RD = 2.0  # the relevant distance every measured operation aligns at
# the prediction sweep of the evaluate probe: evaluate(max_rd 5, step 0.1)
SWEEP_MAX_RD = 5.0
SWEEP_GRID = distance_grid(SWEEP_MAX_RD, 0.1)


def _write(pdf: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def _sha(b) -> str:
    return hashlib.sha1(bytes(b) if b is not None else b"").hexdigest()


def _digest(items) -> str:
    h = hashlib.sha1()
    for it in sorted(items):
        h.update(repr(it).encode())
    return h.hexdigest()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _remarks(rows) -> Counter:
    c = Counter()
    for r in rows:
        rem = r.brdr_remark or "none"
        c["candidates_capped" if rem.startswith("candidates_capped") else rem] += 1
    return c


class Workload:
    """Interface the runner drives. ``warmup`` returns output digests of
    repeated inputs, which must all be equal. ``op`` returns (engine wall
    seconds, output digest or None, features completed, errors, remark
    counts); errors are strings, empty when the output is correct. The
    wall excludes the benchmark's own checks."""

    name = ""
    min_ops = 2

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.ref_pdf = reference_parcels(GRID, GRID, seed=REF_SEED)
        self.ref_path = _write(self.ref_pdf, os.path.join(work, "reference.parquet"))

    def load(self, spark) -> None:
        self.ref = spark.read.parquet(self.ref_path)

    def config(self, grid=(RD,)) -> AlignConfig:
        return AlignConfig(relevant_distances=list(grid))

    def snap_miss_share(self) -> float:
        return 0.0

    def run_checks(self, spark) -> list[str]:
        return []

    # -- traced-run probes ---------------------------------------------
    def probe_theme_df(self, spark):
        raise NotImplementedError

    def probes(self, spark, tracer) -> dict:
        """Time the candidate plan, the reference explode and the full
        align on this workload's theme set, count candidate rows, and
        time the geometry kernels in-process on sampled candidate pairs."""
        from pyspark.sql import functions as F

        from brdrq_spark.operators.align import align_candidate_rows
        from brdrq_spark.operators.candidates import cells_exploded

        th = self.probe_theme_df(spark)
        cfg = self.config()
        out = {}
        grouped, res = align_candidate_rows(spark, th, self.ref, cfg, broadcast_ref=True)
        t0 = time.perf_counter()
        with tracer.span("candidates.ref_explode"):
            _noop(cells_exploded(self.ref.select("ref_id", "geom_wkb"), "ref_id",
                                 res, 0.0, "r", wkb_out="ref_wkb"))
        out["candidates.ref_explode_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("candidates.busy"):
            _noop(grouped)
        out["candidates.busy_s"] = time.perf_counter() - t0
        with tracer.span("bench.probe_counts"):
            n_themes = th.count()
            cells = cells_exploded(th, "theme_id", res, 2.0 * RD * 1.01,
                                   "t", outer=True).count()
            agg = grouped.where(F.col("ref_wkb").isNotNull()).agg(
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("theme_id", F.xxhash64("ref_wkb")).alias("pairs"),
            ).collect()[0]
        out["candidates.theme_cells_per_feature"] = cells / max(n_themes, 1)
        out["candidates.rows"] = float(agg.rows)
        out["candidates.unique_pairs"] = float(agg.pairs)
        out["candidates.useful_ratio"] = agg.pairs / max(agg.rows, 1)
        t0 = time.perf_counter()
        with tracer.span("align.full"):
            align(spark, th, self.ref, cfg, broadcast_ref=True).select("theme_id").collect()
        out["align_full_s"] = time.perf_counter() - t0
        out["align.kernel_s"] = out["align_full_s"] - out["candidates.busy_s"]
        with tracer.span("geom"):
            out.update(self.geom_rates(th))
        return out

    def geom_rates(self, th, seconds: float = 0.4, max_pairs: int = 48) -> dict:
        """In-process kernel rates on sampled (theme, parcel) candidate
        pairs: ``boolean_op_multi`` as the kernel calls it, and
        ``erode_nonempty`` at each half-distance of the sweep grid on
        the overlaps."""
        themes = [rings_from_wkb(bytes(r.geom_wkb))
                  for r in th.select("geom_wkb").collect()]
        refs = [rings_from_wkb(w) for w in self.ref_pdf.geom_wkb]
        ref_bb = [bbox(r) for r in refs]
        reach = 2.0 * RD * 1.01
        rng = np.random.default_rng(self.seed)
        pairs = []
        for k in rng.permutation(len(themes)):
            tb = bbox(themes[k])
            pairs += [(themes[k], refs[i]) for i, b in enumerate(ref_bb)
                      if bbox_distance(tb, b) <= reach]
            if len(pairs) >= max_pairs:
                break
        pairs = pairs[:max_pairs]
        if not pairs:
            return {"geom.boolean_op_per_s": 0.0, "geom.erode_nonempty_per_s": 0.0}
        n, t0 = 0, time.perf_counter()
        inters = []
        while time.perf_counter() - t0 < seconds or n < len(pairs):
            t, r = pairs[n % len(pairs)]
            inter, _ = boolean_op_multi(t, r, ("intersection", "rdifference"))
            if n < len(pairs) and rings_area(inter) > 1e-6:
                inters.append(inter)
            n += 1
        bool_rate = n / (time.perf_counter() - t0)
        halves = [rd / 2.0 for rd in SWEEP_GRID if rd > 0]
        n, t0 = 0, time.perf_counter()
        while inters and (time.perf_counter() - t0 < seconds or n < len(inters)):
            erode_nonempty(inters[n % len(inters)], halves[n % len(halves)], 8)
            n += 1
        erode_rate = n / (time.perf_counter() - t0) if inters else 0.0
        return {"geom.boolean_op_per_s": bool_rate, "geom.erode_nonempty_per_s": erode_rate}


class InteractivePredict(Workload):
    """Closed loop, one client: each request aligns one distinct theme at
    rd 2.0 and waits for the result; requests share one reference layer."""

    name = "interactive_predict"
    min_ops = 5
    POOL = 1024  # candidate themes; ids are drawn without replacement
    # warm-up requests on held-out themes: latency keeps falling by ~20%
    # over the first four or five requests after the cold one
    WARM = 4
    # a theme "snaps back" when its result lies within SNAP_TOL sym-diff of
    # its source parcel; more than MAX_SNAP_MISS of themes missing fails
    # the run. The engine at the time of writing misses ~5% of themes
    # (empty theme-parcel intersections from boolean_op_multi), so the
    # check catches broad regressions and align.snap_miss_share tracks it.
    SNAP_TOL = 0.02
    MAX_SNAP_MISS = 0.5
    # the evaluate probe sweeps SWEEP_THEMES themes the loop never reaches.
    # A prediction is the first distance of its stable run, and the run
    # tolerates a 1e-3 index change per 0.1 m step: its first member can
    # sit a few percent off the snapped end state, hence the wider tolerance
    SWEEP_THEMES = 16
    SWEEP_SNAP_TOL = 0.05
    SWEEP_MAX_SNAP_MISS = 0.2

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.th_pdf = thematic_polygons(self.POOL, GRID, GRID, seed=seed, jitter=1.0,
                                        node_seed=REF_SEED)
        self.th_path = _write(self.th_pdf, os.path.join(work, "themes.parquet"))
        order = np.random.default_rng(seed).permutation(len(self.th_pdf))
        self.order = [self.th_pdf.theme_id.iloc[i] for i in order]
        self.src = dict(zip(self.th_pdf.theme_id, self.th_pdf.src_parcel))
        self.warm_ids = [self.order.pop() for _ in range(self.WARM)]  # not in the loop
        self.parcels = {
            rid[-len("P0000C0000"):]: w
            for rid, w in zip(self.ref_pdf.ref_id, self.ref_pdf.geom_wkb)
        }
        self.snapped = Counter()
        self.errors = []

    def load(self, spark) -> None:
        super().load(spark)
        self.th = spark.read.parquet(self.th_path)

    def _request(self, spark, tid: str):
        from pyspark.sql import functions as F

        return align(spark, self.th.where(F.col("theme_id") == tid), self.ref,
                     self.config(), broadcast_ref=True).select(
            "theme_id", "brdr_relevant_distance", "result_wkb", "brdr_remark"
        ).collect()

    def _snap_error(self, result_wkb, tid: str) -> float:
        """Sym-diff of a result against the theme's source parcel, as a
        share of the parcel's area."""
        parcel = rings_from_wkb(self.parcels[self.src[tid]])
        return area_of_op(rings_from_wkb(result_wkb), parcel, "symdiff") / rings_area(parcel)

    def _check(self, tid, rows) -> list[str]:
        if len(rows) != 1 or rows[0].theme_id != tid or rows[0].brdr_relevant_distance != RD:
            return [f"{tid}: expected one row at rd {RD}, got {len(rows)}"]
        self.snapped[self._snap_error(rows[0].result_wkb, tid) < self.SNAP_TOL] += 1
        return []

    def warmup(self, spark) -> list[str]:
        # the first theme twice: the first request pays the cold start, and
        # the repeat must give exactly the same output
        first = self.warm_ids[0]
        digests = [_digest((r.theme_id, _sha(r.result_wkb)) for r in self._request(spark, first))
                   for _ in range(2)]
        for tid in self.warm_ids[1:]:
            self._request(spark, tid)
        return digests

    def op(self, spark, i: int, tracer):
        tid = self.order[i]
        t0 = time.perf_counter()
        with tracer.span("align"):
            rows = self._request(spark, tid)
        wall = time.perf_counter() - t0
        return wall, None, 1, self._check(tid, rows), _remarks(rows)

    def snap_miss_share(self) -> float:
        total = self.snapped[True] + self.snapped[False]
        return self.snapped[False] / total if total else 0.0

    def run_checks(self, spark) -> list[str]:
        errors = list(self.errors)
        miss = self.snap_miss_share()
        if miss > self.MAX_SNAP_MISS:
            errors.append(f"{miss:.0%} of themes did not snap back to their source parcel")
        return errors

    def probe_theme_df(self, spark):
        from pyspark.sql import functions as F

        return self.th.where(F.col("theme_id") == self.order[0])

    def probes(self, spark, tracer) -> dict:
        """The shared probes, plus the prediction sweep over SWEEP_THEMES
        themes: ``evaluate(max_rd 5, step 0.1, auto_step)`` and ``align``
        on the same 51-distance grid, both collected."""
        from pyspark.sql import functions as F

        from brdrq_spark.operators.evaluate import evaluate

        out = super().probes(spark, tracer)
        ids = self.order[-self.SWEEP_THEMES:]
        th = self.th.where(F.col("theme_id").isin(ids))
        t0 = time.perf_counter()
        with tracer.span("evaluate"):
            preds = evaluate(spark, th, self.ref, max_rd=SWEEP_MAX_RD, step=0.1,
                             auto_step=True, broadcast_ref=True).select(
                "theme_id", "brdr_relevant_distance", "result_wkb").collect()
        evaluate_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("align.grid"):
            grid_rows = align(spark, th, self.ref, self.config(SWEEP_GRID),
                              broadcast_ref=True).select("theme_id").collect()
        out["evaluate.stability_s"] = evaluate_s - (time.perf_counter() - t0)
        out["evaluate.distances_per_feature"] = len(grid_rows) / len(ids)
        out["evaluate.predictions_out"] = float(len(preds))
        keys = Counter((r.theme_id, r.brdr_relevant_distance) for r in preds)
        if any(n > 1 for n in keys.values()):
            self.errors.append("sweep: duplicate (theme, rd) prediction rows")
        if {t for t, _ in keys} != set(ids):
            self.errors.append(f"sweep: themes without a prediction: "
                               f"{sorted(set(ids) - {t for t, _ in keys})[:3]}")
        best = {}
        for r in preds:
            best[r.theme_id] = min(best.get(r.theme_id, 1.0), self._snap_error(r.result_wkb, r.theme_id))
        miss = sum(e >= self.SWEEP_SNAP_TOL for e in best.values()) / len(ids)
        if miss > self.SWEEP_MAX_SNAP_MISS:
            self.errors.append(f"sweep: {miss:.0%} of themes have no prediction that snaps "
                               "back to their source parcel")
        return out


class ImagePipeline(Workload):
    """images_table -> extract_footprints -> footprint parquet ->
    checkpointed_align (2 shards, both concurrent) into a fresh CommittedTable."""

    name = "image_pipeline"
    min_ops = 1  # the warm-up is a whole pass too: its digest is the repeat
    N_IMAGES = 24
    SHARDS = 2
    CONCURRENT = 4  # scripts/submit_align.py --concurrent default

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.img_pdf = images_table(self.N_IMAGES, seed=seed)
        self.img_path = _write(self.img_pdf, os.path.join(work, "images.parquet"))
        self.last_fp = None
        self.errors = []

    def load(self, spark) -> None:
        super().load(spark)
        self.images = spark.read.parquet(self.img_path)

    def warmup(self, spark) -> list[str]:
        # a whole pass: a smaller one leaves the first measured pass cold
        from tracing import Tracer

        _, digest, _, errors, _ = self.op(spark, -1, Tracer(False))
        self.errors += errors
        return [digest]

    def op(self, spark, i: int, tracer):
        from brdrq_spark.operators.footprints import extract_footprints
        from brdrq_spark.sources.manifest import CommittedTable, checkpointed_align

        fp_path = os.path.join(self.work, f"footprints_{i}.parquet")
        tab_path = os.path.join(self.work, f"table_{i}")
        t0 = time.perf_counter()
        with tracer.span("footprints"):
            extract_footprints(self.images).write.mode("overwrite").parquet(fp_path)
        with tracer.span("manifest"):
            table = CommittedTable(tab_path)
            checkpointed_align(spark, table, spark.read.parquet(fp_path), self.ref,
                               self.config(), n_partitions=self.SHARDS,
                               broadcast_ref=True, max_concurrent=self.CONCURRENT)
        wall = time.perf_counter() - t0
        with tracer.span("bench.check"):
            rows = table.read(spark).select(
                "theme_id", "brdr_relevant_distance", "result_wkb", "brdr_remark"
            ).collect()
            lineage = table.lineage()
            errors = []
            want = {f"shard_{k:03d}" for k in range(self.SHARDS)}
            if table.committed_keys() != want:
                errors.append(f"committed shards {sorted(table.committed_keys())}")
            committed = sum(r["row_count"] for r in lineage)
            if committed != len(rows) or len(rows) != self.N_IMAGES:
                errors.append(f"manifest rows {committed}, table rows {len(rows)}, "
                              f"images {self.N_IMAGES}")
            keys = Counter((r.theme_id, r.brdr_relevant_distance) for r in rows)
            if len(keys) != len(rows):
                errors.append("duplicate (theme, rd) rows")
            counts = [r["row_count"] for r in lineage]
            self.shard_skew = max(counts) / max(statistics.median(counts), 1)
            self.bytes_written = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(tab_path) for f in fs
            )
        if self.last_fp:
            shutil.rmtree(self.last_fp, ignore_errors=True)
        self.last_fp = fp_path
        shutil.rmtree(tab_path, ignore_errors=True)
        digest = _digest((r.theme_id, _sha(r.result_wkb)) for r in rows)
        return wall, digest, self.N_IMAGES, errors, _remarks(rows)

    def run_checks(self, spark) -> list[str]:
        """Warm-up pass errors, verify_invariants after a shuffle of the
        image table, and the last pass's footprint captions / pixel
        hashes against the source."""
        from brdrq_spark.operators.footprints import pixel_sha, verify_invariants

        errors = list(self.errors)
        after = spark.read.parquet(self.img_path).repartition(4)
        expected = spark.createDataFrame(self.img_pdf)
        res = verify_invariants(after, expected).collect()
        bad = [r.image_id for r in res if not (r.pixels_ok and r.caption_ok)]
        if bad or len(res) != self.N_IMAGES:
            errors.append(f"verify_invariants: {len(res)} rows, failing {bad[:3]}")
        want = {r.image_id: (r.caption, pixel_sha(r.bytes, int(r.w), int(r.h), r.fmt))
                for r in self.img_pdf.itertuples(index=False)}
        got = {r.image_id: (r.caption, r.pixel_sha)
               for r in spark.read.parquet(self.last_fp).collect()}
        if got != want:
            errors.append("footprint caption / pixel_sha differ from the source images")
        return errors

    def probe_theme_df(self, spark):
        return spark.read.parquet(self.last_fp)


WORKLOADS = {w.name: w for w in (ImagePipeline, InteractivePredict)}
