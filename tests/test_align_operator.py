"""End-to-end tests of candidate generation + the align operator
(SURVEY.md §7.1 M3: the minimum end-to-end slice, mirroring the
reference scenario test_autocorrectborders_local_referencelayer —
plugin/brdrq/test/test_autocorrectborders.py:221-264: align jittered
thematic polygons to a local reference layer at rd=2; every input
feature yields a result row, geometry snaps to parcel borders)."""

import numpy as np
import pytest

from brdrq_spark.geom import rings_area, rings_from_wkb
from brdrq_spark.geom.clip import area_of_op
from brdrq_spark.operators.align import AlignConfig, align, run_kernel
from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

NX = NY = 12
N_THEMES = 8


@pytest.fixture(scope="module")
def tables(spark):
    ref = spark.createDataFrame(reference_parcels(NX, NY, seed=21))
    th = spark.createDataFrame(thematic_polygons(N_THEMES, NX, NY, seed=21, jitter=1.0))
    return th, ref


def test_candidate_pairs_contain_source_parcel(spark, tables, candidate_pairs):
    th, ref = tables
    src = {r.theme_id: r.src_parcel for r in th.collect()}
    # the prepared-index probe and the cell join
    for broadcast_ref in (True, False):
        pairs = candidate_pairs(th, ref, max_rd=2.0, broadcast_ref=broadcast_ref).collect()
        by_theme = {}
        for row in pairs:
            by_theme.setdefault(row.theme_id, set()).add(row.ref_id)
        assert len(by_theme) == N_THEMES
        for tid, parcels in by_theme.items():
            # jittered copy of parcel X must have X among its candidates
            assert any(p.endswith(src[tid]) for p in parcels), (tid, parcels)
            # and not absurdly many candidates (pruning works)
            assert len(parcels) <= 16


def test_align_snaps_to_source_parcel(spark, tables):
    th, ref = tables
    cfg = AlignConfig(relevant_distances=[2.0])
    out = align(spark, th, ref, cfg).collect()
    assert len(out) == N_THEMES  # one row per theme at one rd

    ref_rows = {r.ref_id: r.geom_wkb for r in ref.collect()}
    src = {r.theme_id: r.src_parcel for r in th.collect()}
    for row in out:
        assert row.brdr_relevant_distance == 2.0
        assert row.brdr_area > 0
        parcel_wkb = next(
            w for rid, w in ref_rows.items() if rid.endswith(src[row.theme_id])
        )
        parcel = rings_from_wkb(parcel_wkb)
        result = rings_from_wkb(row.result_wkb)
        sym = area_of_op(result, parcel, "symdiff")
        # snapped: residual mismatch vs the source parcel is < 2% of area
        assert sym < 0.02 * rings_area(parcel), (row.theme_id, sym)
        # diff layers are consistent: |plus| + |min| == |symdiff vs theme|
        a_plus = rings_area(rings_from_wkb(row.result_diff_plus_wkb))
        a_min = rings_area(rings_from_wkb(row.result_diff_min_wkb))
        a_diff = rings_area(rings_from_wkb(row.result_diff_wkb))
        assert a_plus + a_min == pytest.approx(a_diff, abs=1e-3)
        # metrics agree with geometries
        assert row.brdr_area == pytest.approx(rings_area(result), abs=1e-6)
        assert row.brdr_sym_diff_area_index_perc == pytest.approx(
            100 * row.brdr_sym_diff_area_index, abs=1e-9
        )
        # tile assignments: non-empty, sorted, deterministic
        assert row.cell_ids == sorted(row.cell_ids)
        assert len(row.cell_ids) >= 1
        assert row.brdr_full_actual in (True, False)


def test_align_deterministic_across_parallelism(spark, tables):
    th, ref = tables
    cfg = AlignConfig(relevant_distances=[1.0, 2.0])
    out1 = align(spark, th, ref, cfg)
    a = {
        (r.theme_id, r.brdr_relevant_distance): (r.brdr_area, tuple(r.cell_ids))
        for r in out1.collect()
    }
    out2 = align(spark, th.repartition(7), ref.repartition(3), cfg)
    b = {
        (r.theme_id, r.brdr_relevant_distance): (r.brdr_area, tuple(r.cell_ids))
        for r in out2.collect()
    }
    assert a == b  # bit-for-bit tile assignments + areas, any partitioning


def test_align_od_strategies(spark):
    # a theme half-on / half-off the reference tessellation edge
    from brdrq_spark.geom import rings_to_wkb
    import pandas as pd

    ref_pdf = reference_parcels(4, 4, seed=33)
    # theme sticking out of the tessellation: half inside first parcel,
    # half outside the whole grid (west of origin)
    theme_ring = np.array(
        [[169968.0, 170008.0], [170032.0, 170008.0], [170032.0, 170056.0], [169968.0, 170056.0]]
    )
    th_pdf = pd.DataFrame(
        [{"theme_id": "t_od", "geom_wkb": rings_to_wkb([theme_ring])}]
    )
    spark_th = spark.createDataFrame(th_pdf)
    spark_ref = spark.createDataFrame(ref_pdf)

    as_is = align(
        spark, spark_th, spark_ref, AlignConfig(relevant_distances=[2.0], od_strategy="AS_IS")
    ).collect()[0]
    excl = align(
        spark, spark_th, spark_ref, AlignConfig(relevant_distances=[2.0], od_strategy="EXCLUDE")
    ).collect()[0]
    # AS_IS keeps the overhang, EXCLUDE drops it: ~half the area
    assert as_is.brdr_area > excl.brdr_area
    assert excl.brdr_area == pytest.approx(as_is.brdr_area / 2, rel=0.2)


def test_align_no_candidates(spark):
    from brdrq_spark.geom import rings_to_wkb
    import pandas as pd

    far = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    th = spark.createDataFrame(
        pd.DataFrame([{"theme_id": "t_far", "geom_wkb": rings_to_wkb([far])}])
    )
    ref = spark.createDataFrame(reference_parcels(3, 3, seed=1))
    row = align(spark, th, ref, AlignConfig(relevant_distances=[2.0])).collect()[0]
    assert row.brdr_remark == "no_reference_candidates"
    # AS_IS: keeps the original geometry
    assert row.brdr_area == pytest.approx(100.0, abs=0.5)


def test_od_snap_strategies_kernel():
    """OD SNAP semantics (docs/autocorrectborders.md:188-193): theme
    overhangs parcel A toward parcel B; the OD free edge at x=11.5 sits
    0.5 m from B's boundary (x=12) and 1.5 m from A's (x=10).
    SNAP_ALL_SIDE moves it outward onto B; SNAP_SINGLE_SIDE only allows
    inner-side movement so the free edge stays."""
    import pandas as pd

    from brdrq_spark.geom import bbox, rings_from_wkb, rings_to_wkb
    from brdrq_spark.operators.align import _make_kernel

    A = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    B = np.array([[12.0, 0.0], [20.0, 0.0], [20.0, 10.0], [12.0, 10.0]])
    T_ring = np.array([[2.0, 2.0], [11.5, 2.0], [11.5, 8.0], [2.0, 8.0]])

    def run(strategy):
        cfg = AlignConfig(relevant_distances=[2.0], od_strategy=strategy)
        pdf = pd.DataFrame(
            {
                "theme_id": ["t"] * 2,
                "theme_wkb": [rings_to_wkb([T_ring])] * 2,
                "ref_wkb": [rings_to_wkb([A]), rings_to_wkb([B])],
            }
        )
        row = _make_kernel(cfg, 10)(pdf).iloc[0]
        return rings_from_wkb(row["result_wkb"])

    all_side = run("SNAP_ALL_SIDE")
    single = run("SNAP_SINGLE_SIDE")
    as_is = run("AS_IS")
    exclude = run("EXCLUDE")
    assert bbox(all_side)[2] == pytest.approx(12.0, abs=0.05)
    assert bbox(single)[2] == pytest.approx(11.5, abs=0.05)
    assert bbox(as_is)[2] == pytest.approx(11.5, abs=0.05)
    assert bbox(exclude)[2] == pytest.approx(10.0, abs=0.05)
    # snapped OD still covers at least the AS_IS interior area
    assert rings_area(all_side) >= rings_area(exclude)


def _edge_case_themes(spark, th):
    """The fixture themes plus an empty geometry and a two-part
    MultiPolygon made of two jittered themes."""
    import pandas as pd

    from brdrq_spark.geom import rings_to_wkb
    from brdrq_spark.geom.core import split_parts

    pdf = th.select("theme_id", "geom_wkb").toPandas()
    multi = rings_from_wkb(bytes(pdf.geom_wkb[0])) + rings_from_wkb(
        bytes(pdf.geom_wkb[N_THEMES - 1])
    )
    assert len(split_parts(multi)) == 2
    extra = pd.DataFrame(
        [
            {"theme_id": "t_empty", "geom_wkb": rings_to_wkb([])},
            {"theme_id": "t_multi", "geom_wkb": rings_to_wkb(multi)},
        ]
    )
    return th.select("theme_id", "geom_wkb").unionByName(spark.createDataFrame(extra))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def local_scans(spark, monkeypatch):
    """DataFrames that ``spark.createDataFrame`` builds from a pandas
    frame with a ``geom_wkb`` column while the test runs: the local scan
    a collected theme side is aligned over."""
    made = []
    real = spark.createDataFrame

    def recording(data, *args, **kwargs):
        df = real(data, *args, **kwargs)
        if "geom_wkb" in getattr(data, "columns", ()):
            made.append(df)
        return df

    monkeypatch.setattr(spark, "createDataFrame", recording)
    return made


def _slice_wkb_bytes(df) -> list[int]:
    """WKB byte total of each partition of ``df``, by partition id."""
    import pandas as pd

    def tag(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for pdf in batches:
            yield pd.DataFrame({"p": [pid] * len(pdf), "n": pdf.geom_wkb.map(len)})

    totals = [0] * df.rdd.getNumPartitions()
    for r in df.mapInPandas(tag, "p int, n long").collect():
        totals[r.p] += r.n
    return totals


def _greedy_wkb_bytes(sizes, k) -> list[int]:
    """Byte total per slice when the largest theme goes first, each into
    the lightest of k contiguous slices (n*i//k boundaries) with room."""
    n = len(sizes)
    room = [(i + 1) * n // k - i * n // k for i in range(k)]
    load = [0] * k
    for size in sorted(sizes, reverse=True):
        i = min((j for j in range(k) if room[j]), key=lambda j: load[j])
        load[i] += size
        room[i] -= 1
    return load


def test_align_hybrid_wkb_shipping_same_output(spark, tables, local_scans, monkeypatch):
    """Every sub-path of the prepared-reference path (broadcast_ref=True)
    and the cell shuffle-join path must emit identical rows — every WKB
    slot, metric and remark — on an empty-geometry theme, a multi-part
    theme, themes over ``candidates.INLINE_WKB_BYTES`` (hybrid WKB
    shipping: ids-only through the cell explode), capped themes, and
    evaluate(auto_step=True), which sweeps a per-theme step column. The
    prepared sub-paths: each theme alone (aligned in the driver), zero
    themes, the collected multi-theme stage (its rows reordered into
    WKB-balanced slices), and the lazy stage taken when the theme side's
    size estimate is above the broadcast threshold."""
    from pyspark.sql import functions as F

    from brdrq_spark.operators import align as align_mod
    from brdrq_spark.operators.evaluate import evaluate

    th, ref = tables
    themes = _edge_case_themes(spark, th)
    ids = [r.theme_id for r in themes.select("theme_id").collect()]

    def aligned(cfg, bref, df=themes):
        return align(spark, df, ref, cfg, broadcast_ref=bref)

    def rows(cfg, bref, df=themes):
        return sorted(aligned(cfg, bref, df).collect())

    def alone(cfg):
        out = []
        for tid in ids:
            df = aligned(cfg, True, themes.where(F.col("theme_id") == tid))
            assert "MapInPandas" not in _executed_plan(df)
            out += df.collect()
        return sorted(out)

    def lazy(cfg):
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "-1")
        try:
            df = aligned(cfg, True)
            assert "Union" in _executed_plan(df)
            return sorted(df.collect())
        finally:
            spark.conf.set(key, old)

    base = rows(AlignConfig(relevant_distances=[2.0]), False)
    assert len(base) == N_THEMES + 2
    remark = {r.theme_id: r.brdr_remark for r in base}
    assert remark["t_empty"] == "no_reference_candidates"
    plain = AlignConfig(relevant_distances=[2.0])
    inline = align_mod.INLINE_WKB_BYTES
    for cfg, budget in (
        (plain, inline),
        (plain, 1),
        (AlignConfig(relevant_distances=[0.5, 2.0], max_candidates_per_theme=2), inline),
    ):
        monkeypatch.setattr(align_mod, "INLINE_WKB_BYTES", budget)
        shuffled = rows(cfg, False)
        local_scans.clear()
        collected = aligned(cfg, True)
        assert "Union" not in _executed_plan(collected)
        assert sorted(collected.collect()) == shuffled, (cfg, budget)
        (scan,) = local_scans
        sizes = [len(r.geom_wkb) for r in themes.collect()]
        assert _slice_wkb_bytes(scan) == _greedy_wkb_bytes(
            sizes, min(len(sizes), spark.sparkContext.defaultParallelism)
        )
        assert alone(cfg) == shuffled, (cfg, budget)
        assert lazy(cfg) == shuffled, (cfg, budget)
        assert rows(cfg, True, themes.limit(0)) == rows(cfg, False, themes.limit(0)) == []
        if budget == 1:
            assert shuffled == base
        if cfg.max_candidates_per_theme == 2:
            assert any(r.brdr_remark.startswith("candidates_capped") for r in shuffled)

    sweeps = [
        sorted(
            evaluate(
                spark, themes, ref, max_rd=2.0, auto_step=True, broadcast_ref=bref
            ).collect()
        )
        for bref in (True, False)
    ]
    assert sweeps[0] == sweeps[1] and len(sweeps[0]) >= N_THEMES


def test_collected_theme_slices_balance_wkb_bytes(spark, tables, local_scans):
    """A collected theme side with skewed WKB sizes, largest last: the
    local scan the kernel consumes gives each contiguous slice the
    greedy byte total, its heaviest slice is lighter than in the input
    order, and the rows equal the shuffle path's."""
    import pandas as pd

    from brdrq_spark.geom import rings_to_wkb

    th, ref = tables
    pdf = th.select("theme_id", "geom_wkb").toPandas()

    def densify(wkb, m):
        # m extra collinear vertices per edge: same polygon, more bytes
        out = []
        for ring in rings_from_wkb(bytes(wkb)):
            nxt = np.roll(ring, -1, axis=0)
            t = np.arange(m + 1)[None, :, None] / (m + 1)
            out.append((ring[:, None] + t * (nxt - ring)[:, None]).reshape(-1, 2))
        return rings_to_wkb(out)

    extra = [0] * (N_THEMES - 2) + [24, 48]
    pdf["geom_wkb"] = [densify(w, m) for w, m in zip(pdf.geom_wkb, extra)]
    themes = spark.createDataFrame(pdf)
    sizes = [len(w) for w in pdf.geom_wkb]
    k = min(N_THEMES, spark.sparkContext.defaultParallelism)
    assert k > 1

    cfg = AlignConfig(relevant_distances=[2.0])
    local_scans.clear()
    got = sorted(align(spark, themes, ref, cfg, broadcast_ref=True).collect())
    (scan,) = local_scans
    totals = _slice_wkb_bytes(scan)
    assert totals == _greedy_wkb_bytes(sizes, k)
    in_order = [
        sum(sizes[i * N_THEMES // k:(i + 1) * N_THEMES // k]) for i in range(k)
    ]
    assert max(totals) < max(in_order)
    assert got == sorted(align(spark, themes, ref, cfg, broadcast_ref=False).collect())
    assert len(got) == N_THEMES

    # a share of fewer kernel tasks than slices: adjacent slices
    # coalesce, no shuffle, and each task still reads the greedy byte
    # total
    local_scans.clear()
    out = run_kernel(spark, themes, ref, cfg, True, share=2)
    plan = _executed_plan(out)
    assert "Coalesce 2" in plan and "Exchange" not in plan, plan
    assert out.rdd.getNumPartitions() == 2
    assert sorted(out.collect()) == got
    (scan,) = local_scans
    totals = _slice_wkb_bytes(scan)
    assert [sum(totals[:k // 2]), sum(totals[k // 2:])] == _greedy_wkb_bytes(sizes, 2)


def test_align_metadata_same_on_both_paths(spark, tables):
    """brdr_metadata lineage is byte-equal between the prepared path and
    the shuffle path, and lists its reference geometries sorted by id
    (not in shuffle arrival order)."""
    import json

    from pyspark.sql import functions as F

    th, ref = tables
    cfg = AlignConfig(relevant_distances=[1.0, 2.0, 4.0], emit_metadata=True)
    ref_v = ref.withColumn("VERSDATUM", F.concat(F.lit("v"), F.col("ref_id")))
    # all themes, and one theme alone (aligned in the driver)
    one = th.where(F.col("theme_id") == th.first().theme_id)
    for themes, n in ((one, 1), (th, N_THEMES)):
        prepared, shuffled = (
            sorted(
                (r.theme_id, r.brdr_relevant_distance, r.brdr_metadata)
                for r in align(spark, themes, ref_v, cfg, broadcast_ref=bref).collect()
            )
            for bref in (True, False)
        )
        assert prepared == shuffled and len(prepared) == 3 * n
    n_multi = 0
    for _, _, md in prepared:
        geoms = json.loads(md)["actuation"]["reference_geometries"]
        ids = [g["derived_from"]["id"] for g in geoms]
        assert ids == sorted(ids)
        assert all(g["version_date"] == "v" + i for g, i in zip(geoms, ids))
        n_multi += len(ids) > 1
    assert n_multi > 0


def test_multi_as_single_modus_parts(spark):
    """A MultiPolygon theme with two parts over two separate parcels
    snaps BOTH parts to their parcels under multi_as_single_modus=True
    (per-part relevance decisions, reference default)."""
    import numpy as np
    import pandas as pd

    from brdrq_spark.geom import rings_from_wkb, rings_to_wkb, rings_area
    from brdrq_spark.operators.align import AlignConfig, align

    def ring(x0):
        return np.array([[x0, 0.0], [x0 + 10.0, 0.0], [x0 + 10.0, 10.0], [x0, 10.0]])

    # two-part theme: each part shifted 0.3 east of its parcel
    th = spark.createDataFrame(
        pd.DataFrame(
            [{"theme_id": "m", "geom_wkb": rings_to_wkb([ring(0.3), ring(30.3)])}]
        )
    )
    ref = spark.createDataFrame(
        pd.DataFrame(
            [
                {"ref_id": "r0", "geom_wkb": rings_to_wkb([ring(0.0)])},
                {"ref_id": "r1", "geom_wkb": rings_to_wkb([ring(30.0)])},
            ]
        )
    )
    for modus in (True, False):
        cfg = AlignConfig(
            relevant_distances=[2.0], od_strategy="EXCLUDE",
            multi_as_single_modus=modus,
        )
        out = align(spark, th, ref, cfg, broadcast_ref=True).collect()
        assert len(out) == 1
        # both parts fully snap (uncovered strips erode at rd=2): area 200
        assert abs(out[0].brdr_area - 200.0) < 1e-6, modus
        assert out[0].brdr_nr_references == 2


def test_partial_snapping_knob(spark):
    """partial_snapping=True snaps the partial branch's grown boundary
    onto parcel edges: a theme covering half a parcel at small rd grows
    by rd, and with snapping its west edge lands exactly on the parcel
    border."""
    import numpy as np
    import pandas as pd

    from brdrq_spark.geom import bbox, rings_from_wkb, rings_to_wkb
    from brdrq_spark.operators.align import AlignConfig, align

    parcel = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    half = np.array([[0.4, 0.0], [5.0, 0.0], [5.0, 10.0], [0.4, 10.0]])
    th = spark.createDataFrame(
        pd.DataFrame([{"theme_id": "t", "geom_wkb": rings_to_wkb([half])}])
    )
    ref = spark.createDataFrame(
        pd.DataFrame([{"ref_id": "r", "geom_wkb": rings_to_wkb([parcel])}])
    )
    res = {}
    for snap in (False, True):
        cfg = AlignConfig(
            relevant_distances=[0.3], od_strategy="EXCLUDE",
            partial_snapping=snap,
        )
        out = align(spark, th, ref, cfg, broadcast_ref=True).collect()[0]
        res[snap] = bbox(rings_from_wkb(out.result_wkb))[0]  # minx
    # without snapping the grown west edge stays at 0.4-rd=0.1; with
    # snapping it lands on the parcel border x=0
    assert res[False] > 0.05
    assert abs(res[True] - 0.0) < 1e-9


def test_crs_guards(spark):
    """align() mirrors the reference's CRS hard errors
    (brdrq_utils.py:1498-1502, 1551-1555); G5 bbox margin matches
    zoom_to_features' +10% extent expansion."""
    import numpy as np
    import pandas as pd
    import pytest

    from brdrq_spark.functions.crs import bbox_with_margin, require_same_crs
    from brdrq_spark.geom import rings_to_wkb
    from brdrq_spark.operators.align import AlignConfig, align

    sq = rings_to_wkb(
        [np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])]
    )
    th = spark.createDataFrame(pd.DataFrame([{"theme_id": "t", "geom_wkb": sq}]))
    ref = spark.createDataFrame(pd.DataFrame([{"ref_id": "r", "geom_wkb": sq}]))
    with pytest.raises(ValueError, match="different CRS"):
        align(spark, th, ref, AlignConfig(ref_crs="EPSG:3812"), broadcast_ref=True)
    with pytest.raises(ValueError, match="defined CRS"):
        align(spark, th, ref, AlignConfig(crs=""), broadcast_ref=True)
    assert require_same_crs("EPSG:31370", "EPSG:31370") == "EPSG:31370"

    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"minx": 0.0, "miny": 0.0, "maxx": 10.0, "maxy": 20.0},
                {"minx": 5.0, "miny": -10.0, "maxx": 30.0, "maxy": 5.0},
            ]
        )
    )
    b = bbox_with_margin(df)  # combined (0,-10,30,20) + 10% of (30,30)
    assert b == (-3.0, -13.0, 33.0, 23.0)


def test_inradius_early_stop_decision_equivalence():
    """The halves-aware bisection (round-8 sweep optimization) must
    reproduce the FULL bisection's decisions exactly: the returned
    threshold is only ever compared as ``thr <= half`` against the grid
    halves, so for every grid half the early-stopped and full runs must
    agree — across jittered real-workload pieces AND the rd=0 edge
    (half=0 stays undetermined until the bracket's lo moves off 0)."""
    from brdrq_spark.geom import bbox as gbbox, bbox_distance
    from brdrq_spark.geom.clip import boolean_op_multi
    from brdrq_spark.operators.align import distance_grid, inradius

    ref = reference_parcels(16, 16, seed=5)
    th = thematic_polygons(24, 16, 16, seed=5, jitter=1.0)
    refsets = [rings_from_wkb(w) for w in ref.geom_wkb]
    refboxes = [gbbox(r) for r in refsets]

    for step in (0.1, 0.5):
        halves = np.asarray(
            sorted(rd / 2.0 for rd in distance_grid(5.0, step))
        )
        checked = 0
        for k in range(len(th)):
            trings = rings_from_wkb(th.geom_wkb.iloc[k])
            tb = gbbox(trings)
            for refs, bb in zip(refsets, refboxes):
                if bbox_distance(tb, bb) > 4.0:
                    continue
                inter, uncov = boolean_op_multi(
                    trings, refs, ("intersection", "rdifference")
                )
                for piece in (inter, uncov):
                    if not piece:
                        continue
                    full = inradius(piece, 8)
                    fast = inradius(piece, 8, halves=halves)
                    for h in halves:
                        assert (full <= h) == (fast <= h), (
                            f"step={step} half={h}: full={full} fast={fast}"
                        )
                    checked += 1
        assert checked > 40  # the fixture really exercised the path


def test_dilation_envelope_keeps_image_decisions(image_kernel_frames, monkeypatch):
    """The seed-1 image footprints each reach the partial branch at rd 2,
    whose grow dilates an envelope of the opened core. Against the
    construction with capsules on every core vertex, the decisions stay
    identical and each result moves by at most 2% of its area."""
    from brdrq_spark.geom import buffer
    from brdrq_spark.geom.clip import boolean_op
    from brdrq_spark.geom.simplify import simplify_rings
    from brdrq_spark.operators import align as align_mod

    frames = image_kernel_frames(1)
    kern = align_mod._make_kernel(AlignConfig(relevant_distances=[2.0]), 10)
    new = [kern(pdf).iloc[0] for pdf in frames]

    real = buffer.buffer_rings

    def unenveloped(rings, d, nseg=32):
        if d <= 0 or not rings:
            return real(rings, d, nseg)
        caps = buffer.boundary_capsules(rings, d, nseg)
        return simplify_rings(boolean_op(rings, caps, "union"), d / 20.0)

    monkeypatch.setattr(buffer, "buffer_rings", unenveloped)
    monkeypatch.setattr(align_mod, "buffer_rings", unenveloped)
    old = [kern(pdf).iloc[0] for pdf in frames]

    moved = 0
    for a, b in zip(old, new):
        for col in ("brdr_remark", "brdr_nr_references", "brdr_full_actual"):
            assert a[col] == b[col], (a["theme_id"], col)
        ra, rb = rings_from_wkb(a["result_wkb"]), rings_from_wkb(b["result_wkb"])
        sym = area_of_op(ra, rb, "difference") + area_of_op(rb, ra, "difference")
        assert sym <= 0.02 * rings_area(ra), a["theme_id"]
        moved += bytes(a["result_wkb"]) != bytes(b["result_wkb"])
    assert moved > len(frames) // 2  # the grow really ran on these inputs
