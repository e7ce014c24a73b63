import tempfile

import pytest

from brdrq_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    wh = tempfile.mkdtemp(prefix="brdrq_warehouse_")
    s = get_spark(
        "brdrq_spark_tests",
        cpus=4,
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s


@pytest.fixture(scope="session")
def candidate_pairs(spark):
    """``pairs(th, ref, max_rd, **kw)``: the DataFrame of distinct
    (theme_id, ref_id) candidate pairs within 2*max_rd, from
    ``candidate_groups`` — the path every operator's candidates take;
    ``kw`` (broadcast_ref, salt, hot_cell_threshold) go to it."""
    from brdrq_spark.grid import pick_resolution
    from brdrq_spark.operators.candidates import candidate_groups

    def kernel(g):
        return g.loc[g["ref_id"].notna(), ["theme_id", "ref_id"]].drop_duplicates()

    def pairs(th, ref, max_rd, **kw):
        return candidate_groups(
            spark, th.select("theme_id", "geom_wkb"), ref, kernel,
            "theme_id string, ref_id string", res=pick_resolution(max_rd),
            dilate=2.0 * max_rd * 1.01, reach=2.0 * max_rd, outer=False,
            ids=True, **kw,
        )

    return pairs


@pytest.fixture(scope="session")
def image_kernel_frames():
    """seed -> the align kernel's input frames for the footprints of
    ``images_table(24, seed)``: one frame per footprint, holding every
    parcel of ``reference_parcels(64, 64, seed=42)`` whose bbox lies
    within 2 m of the footprint's (all an rd-2 alignment can use)."""
    from functools import lru_cache

    import pandas as pd

    from brdrq_spark.geom import bbox, bbox_distance, rings_from_wkb, rings_to_wkb
    from brdrq_spark.raster.footprint import extract_footprint
    from brdrq_spark.sources.synthetic import images_table, reference_parcels

    ref = reference_parcels(64, 64, seed=42)
    boxes = [(w, bbox(rings_from_wkb(w))) for w in ref.geom_wkb]

    @lru_cache(maxsize=None)
    def build(seed: int) -> list:
        frames = []
        for r in images_table(24, seed=seed).itertuples(index=False):
            rings = extract_footprint(r.bytes, int(r.w), int(r.h), r.fmt, int(r.phash))
            tb = bbox(rings)
            cands = [w for w, b in boxes if bbox_distance(tb, b) <= 2.0]
            frames.append(
                pd.DataFrame(
                    {
                        "theme_id": [f"fp_{r.image_id}"] * len(cands),
                        "theme_wkb": [rings_to_wkb(rings)] * len(cands),
                        "ref_wkb": cands,
                    }
                )
            )
        return frames

    return build
