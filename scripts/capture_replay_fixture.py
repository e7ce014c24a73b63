"""Capture a COMMITTED boolean-op replay fixture (VERDICT r7 item 2).

The round-7 replay harness (scripts/replay_boolop.py) pins the boolean
engine bit-for-bit on a captured real-workload stream, but the capture
lived in /tmp — a future session could not re-run it. This script
drives the same two kernel shapes (51-rd sweep + single-rd), captures
every boolean_op call, stratifies by (op, size bucket), and writes a
compact npz fixture to tests/fixtures/boolop_replay.npz that
tests/test_boolop_replay.py replays on every suite run.

Usage: python scripts/capture_replay_fixture.py [per_stratum]
       python scripts/capture_replay_fixture.py --recompute OP [OP ...]

``--recompute`` re-pins only the outputs of the committed calls of the
named ops (a declared change of those ops' output); every input and
every other call stays as captured. A fresh capture resamples the live
stream, which moves with every kernel change.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "boolop_replay.npz",
)


def _nverts(rings) -> int:
    return sum(
        r.shape[0] * (r.shape[1] if r.ndim == 3 else 1) for r in rings
    )


def _bucket(n: int) -> str:
    return "s" if n <= 32 else "m" if n <= 256 else "l"


def encode(stream, outs, path: str) -> None:
    """Flat npz encoding: every ring of every call (inputs a/b and the
    pinned output) shares one coords array; per-ring (call, slot, d0,
    d1) records reassemble them. 3-D capsule blocks (k, m, 2) store
    d1 = m; 2-D rings store d1 = 0."""
    coords = []
    meta = []  # (call, slot, d0, d1) per ring; slot 0=a 1=b 2=out
    ops = []
    for k, ((a, b, op), out) in enumerate(zip(stream, outs)):
        ops.append(op)
        for slot, rings in ((0, a), (1, b), (2, out)):
            for r in rings:
                arr = np.asarray(r, dtype=np.float64)
                if arr.ndim == 3:
                    meta.append((k, slot, arr.shape[0], arr.shape[1]))
                    coords.append(arr.reshape(-1, 2))
                else:
                    meta.append((k, slot, arr.shape[0], 0))
                    coords.append(arr)
    np.savez_compressed(
        path,
        coords=np.concatenate(coords) if coords else np.zeros((0, 2)),
        meta=np.asarray(meta, dtype=np.int64),
        ops=np.asarray(ops),
    )


def decode(path: str):
    """Yield (a_rings, b_rings, op, out_rings) per call."""
    z = np.load(path, allow_pickle=False)
    coords, meta, ops = z["coords"], z["meta"], z["ops"]
    calls = [([], [], str(op), []) for op in ops]
    pos = 0
    for k, slot, d0, d1 in meta:
        n = d0 * d1 if d1 else d0
        arr = coords[pos : pos + n]
        pos += n
        if d1:
            arr = arr.reshape(d0, d1, 2)
        calls[k][[0, 1, 3][slot] if slot != 2 else 3].append(arr)
    return calls


def recompute(ops: set[str]) -> None:
    from brdrq_spark.geom.clip import boolean_op

    calls = decode(FIXTURE)
    outs = [boolean_op(a, b, op) if op in ops else out for a, b, op, out in calls]
    encode([(a, b, op) for a, b, op, _ in calls], outs, FIXTURE)
    print(f"re-pinned {sum(op in ops for _, _, op, _ in calls)} of {len(calls)} calls")


def main() -> None:
    if sys.argv[1:2] == ["--recompute"]:
        recompute(set(sys.argv[2:]))
        return
    per_stratum = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    from scripts.replay_boolop import _drive
    from brdrq_spark.geom import clip as C
    import brdrq_spark.geom.buffer as B
    import brdrq_spark.operators.align as A

    stream: list = []
    orig = C.boolean_op

    def spy(a, b, op):
        stream.append(
            ([np.array(r) for r in a], [np.array(x) for x in b], op)
        )
        return orig(a, b, op)

    C.boolean_op = B.boolean_op = A.boolean_op = spy
    try:
        _drive()
    finally:
        C.boolean_op = B.boolean_op = A.boolean_op = orig

    # stratified sample: per (op, size bucket), first N in stream order
    # (deterministic), so every op and size regime stays represented
    strata: dict[tuple, list] = defaultdict(list)
    for call in stream:
        a, b, op = call
        key = (op, _bucket(_nverts(a) + _nverts(b)))
        if len(strata[key]) < per_stratum:
            strata[key].append(call)
    sample = [c for calls in strata.values() for c in calls]
    # rdifference / symdiff never reach boolean_op in the live stream
    # (they ride boolean_op_multi's shared table): pin them on the
    # sampled intersection pairs so every _OPS entry is replay-covered
    extra = []
    for a, b, op in sample:
        if op == "intersection" and len(extra) < 12:
            extra.append((a, b, "rdifference"))
            extra.append((a, b, "symdiff"))
    sample += extra
    outs = [orig(a, b, op) for a, b, op in sample]
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    encode(sample, outs, FIXTURE)
    sizes = {f"{op}/{bk}": len(v) for (op, bk), v in sorted(strata.items())}
    print(
        f"captured {len(stream)} calls -> sampled {len(sample)} "
        f"({os.path.getsize(FIXTURE)} bytes)\nstrata: {sizes}"
    )


if __name__ == "__main__":
    main()
