"""Kernel hot-path census: run the align kernel over the bench theme
workload in-process (no Spark), under cProfile, and count _trap_table
calls by size and by call site. Guides perf work; not part of the
driver contract.

Usage: python scripts/profile_kernel.py [N_THEMES]
       python scripts/profile_kernel.py --images SEED [N_IMAGES]

The default mode aligns jittered parcels, which never reach the partial
branch at rd 2. ``--images`` aligns the footprints traced from
``images_table(N_IMAGES, seed=SEED)`` (perfbench's image_pipeline
inputs, 24 by default), each of which runs one partial-branch grow, and
first prints the kernel time split between the relevance erosion tests,
open's erosion, open's dilation and the grow dilation.
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd


def build_jobs(n_themes: int):
    from brdrq_spark.geom import bbox as gbbox, bbox_distance, rings_from_wkb
    from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

    GRID = 64
    ref = reference_parcels(GRID, GRID, seed=42)
    th = thematic_polygons(n_themes, GRID, GRID, seed=42, jitter=1.0)
    refboxes = [(w, gbbox(rings_from_wkb(w))) for w in ref.geom_wkb]
    jobs = []
    for k in range(len(th)):
        tb = gbbox(rings_from_wkb(th.geom_wkb.iloc[k]))
        cands = [w for w, bb in refboxes if bbox_distance(tb, bb) <= 4.04]
        jobs.append((th.geom_wkb.iloc[k], cands))
    return jobs


def build_image_jobs(seed: int, n_images: int = 24):
    """(footprint WKB, candidate parcel WKBs) per traced image: every
    parcel whose bbox lies within 2 m of the footprint's."""
    from brdrq_spark.geom import bbox as gbbox, bbox_distance, rings_from_wkb, rings_to_wkb
    from brdrq_spark.raster.footprint import extract_footprint
    from brdrq_spark.sources.synthetic import images_table, reference_parcels

    ref = reference_parcels(64, 64, seed=42)
    refboxes = [(w, gbbox(rings_from_wkb(w))) for w in ref.geom_wkb]
    jobs = []
    for r in images_table(n_images, seed=seed).itertuples(index=False):
        rings = extract_footprint(r.bytes, int(r.w), int(r.h), r.fmt, int(r.phash))
        tb = gbbox(rings)
        jobs.append(
            (rings_to_wkb(rings), [w for w, bb in refboxes if bbox_distance(tb, bb) <= 2.0])
        )
    return jobs


def stage_split(run) -> None:
    """Print the kernel wall time spent in the relevance erosion tests,
    open's erosion, open's dilation and the partial-branch grow."""
    from brdrq_spark.geom import buffer
    from brdrq_spark.operators import align

    spent: Counter = Counter()

    def timed(mod, name, label):
        real = getattr(mod, name)

        def wrapper(*a, **k):
            t0 = time.perf_counter()
            try:
                return real(*a, **k)
            finally:
                spent[label] += time.perf_counter() - t0

        setattr(mod, name, wrapper)
        return mod, name, real

    # the grow calls align.buffer_rings; open_rings calls buffer.buffer_rings
    patches = [
        timed(align, "erode_nonempty", "relevance erosion tests"),
        timed(buffer, "erode_rings", "open: erosion"),
        timed(buffer, "buffer_rings", "open: dilation"),
        timed(align, "buffer_rings", "grow dilation"),
    ]
    t0 = time.perf_counter()
    try:
        run()
    finally:
        for mod, name, real in patches:
            setattr(mod, name, real)
    total = time.perf_counter() - t0
    print(f"kernel wall {total:.3f} s")
    for label, t in list(spent.items()) + [("other", total - sum(spent.values()))]:
        print(f"  {label:28s} {t:7.3f} s  ({100 * t / total:4.1f}%)")


def main():
    images = sys.argv[1:2] == ["--images"]
    if images:
        seed = int(sys.argv[2])
        n_themes = int(sys.argv[3]) if len(sys.argv) > 3 else 24
        jobs = build_image_jobs(seed, n_themes)
    else:
        n_themes = int(sys.argv[1]) if len(sys.argv) > 1 else 256
        jobs = build_jobs(n_themes)

    from brdrq_spark.operators.align import AlignConfig, _make_kernel
    from brdrq_spark.geom import clip

    kern = _make_kernel(AlignConfig(relevant_distances=[2.0]), 10)

    # --- census instrumentation -------------------------------------------
    sizes = Counter()   # bucketed raw-vertex counts per table build
    sites = Counter()   # caller function names
    t_by_site: Counter = Counter()
    orig = clip._trap_table

    def spy(a_rings, b_rings):
        nv = 0
        for rings in (a_rings, b_rings):
            for r in rings:
                nv += r.shape[0] * (r.shape[1] if r.ndim == 3 else 1)
        bucket = (
            "<=16" if nv <= 16 else "<=64" if nv <= 64 else
            "<=256" if nv <= 256 else "<=1024" if nv <= 1024 else ">1024"
        )
        sizes[bucket] += 1
        f = sys._getframe(1)
        # walk out of clip.py to the first geom/operator caller
        while f and "clip.py" in f.f_code.co_filename:
            f = f.f_back
        g = f.f_back
        site = f.f_code.co_name
        if g is not None and "buffer.py" in f.f_code.co_filename:
            site = f"{g.f_code.co_name}>{site}"
        t0 = time.perf_counter()
        out = orig(a_rings, b_rings)
        dt = time.perf_counter() - t0
        sites[site] += 1
        t_by_site[site] += dt
        t_by_site["_TOTAL_trap_table"] += dt
        return out

    def run():
        for tw, cands in jobs:
            kern(
                pd.DataFrame(
                    {
                        "theme_id": ["t"] * max(len(cands), 1),
                        "theme_wkb": [tw] * max(len(cands), 1),
                        "ref_wkb": cands or [None],
                    }
                )
            )

    # warm pass for caches / numpy
    for tw, cands in jobs[:8]:
        kern(pd.DataFrame({"theme_id": ["t"] * max(len(cands), 1),
                           "theme_wkb": [tw] * max(len(cands), 1),
                           "ref_wkb": cands or [None]}))

    if images:
        stage_split(run)

    t0 = time.time()
    run()
    base = time.time() - t0
    print(f"plain run: {base:.3f} s  ({n_themes / base:.1f} themes/s)")

    clip._trap_table = spy
    t0 = time.time()
    run()
    spy_t = time.time() - t0
    clip._trap_table = orig
    print(f"census run: {spy_t:.3f} s; trap_table total "
          f"{t_by_site['_TOTAL_trap_table']:.3f} s "
          f"({100 * t_by_site['_TOTAL_trap_table'] / spy_t:.0f}% of census run)")
    print("table sizes:", dict(sizes), f" per theme={sum(sizes.values())/n_themes:.1f}")
    for site, cnt in sites.most_common():
        print(f"  {site:45s} n={cnt:6d}  t={t_by_site[site]:7.3f}s  "
              f"({t_by_site[site]*1e3/cnt:6.2f} ms/call)")

    pr = cProfile.Profile()
    pr.enable()
    run()
    pr.disable()
    st = pstats.Stats(pr)
    st.sort_stats("cumulative").print_stats(28)


if __name__ == "__main__":
    main()
