"""Similarity search over embedding columns (array<float>).

Cosine scoring with built-in higher-order functions
(`aggregate`/`zip_with` — JVM-side, no Python) over random-hyperplane
LSH candidates: at 100 TB the bucket equi-join confines the quadratic
pair space to same-bucket candidates, and the bucket key is a plain int64 column
Catalyst can shuffle-partition / AQE-skew-split.

Scale design (vs the naive leading-dims sign bucket): real embeddings
have correlated leading dimensions, so sign(v[0..k]) buckets are skewed
and degenerate. Here each signature bit is the sign of a projection
onto a SEEDED pseudo-random ±1 hyperplane (md5(seed,bit,dim) parity —
deterministic, no RNG state), giving near-uniform 2^n_bits buckets;
multi-probe (flip-1-bit union on the query side) recovers recall lost
at bucket boundaries; and a per-bucket row_number cap bounds the
worst-case per-bucket pair space, exactly like the MinHash-LSH path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def hyperplane_signs(n_bits: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic ±1 hyperplane patterns: sign(b, d) from the low bit
    of md5(seed:b:d). Seeded and stateless — every executor and every
    run derives the identical planes, so signatures are reproducible
    without shipping an RNG or a side table."""
    signs: list[list[float]] = []
    for b in range(n_bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{b}:{d}".encode()).digest()[0]
            row.append(1.0 if h & 1 else -1.0)
        signs.append(row)
    return signs


def rh_signature(
    vec_col, n_bits: int, dim: int, seed: int = 7, on_mismatch: str = "raise"
):
    """Random-hyperplane signature column (long, JVM-side only):
    bit b = [dot(v, plane_b) > 0]. n_bits aggregates over zip_with stay
    inside whole-stage codegen — no Python in the signature path.

    ``on_mismatch`` governs non-null vectors whose length != ``dim``:

    * ``"raise"`` (default): fail the job at execution time rather than
      degrade — zip_with would null-pad the shorter side, every
      projection would go null, and ALL mismatched vectors would
      collapse into signature 0, one degenerate bucket whose cap then
      silently drops recall. Loud beats wrong.
    * ``"quarantine"``: mismatched vectors get a NULL signature instead
      of aborting — the bucketing callers drop NULL signatures, so one
      corrupt row degrades recall by exactly itself instead of killing
      a corpus-scale run; count/inspect them with
      :func:`mismatched_vectors`.

    NULL vectors keep their historical behavior in both modes
    (signature 0) — a missing embedding is a data gap, not a wiring
    bug, and must not abort a corpus-scale job."""
    if on_mismatch not in ("raise", "quarantine"):
        raise ValueError(f"on_mismatch must be raise|quarantine, got {on_mismatch!r}")
    v = vec_col.cast("array<double>")
    if on_mismatch == "quarantine":
        # NULL base for mismatched vectors; NULL propagates through the
        # bit sum so the whole signature goes NULL
        sig = F.when(
            v.isNull() | (F.size(v) == F.lit(dim)), F.lit(0).cast("long")
        )
    else:
        guard = F.assert_true(
            v.isNull() | (F.size(v) == F.lit(dim)),
            F.concat(
                F.lit(f"rh_signature: vector length != dim={dim} (got "),
                F.coalesce(F.size(v).cast("string"), F.lit("null")),
                F.lit(")"),
            ),
        )
        # assert_true returns NULL on success (and raises otherwise), so
        # folding it through a coalesce keeps the guard inside the same
        # projected expression without a separate pass
        sig = F.coalesce(guard.cast("long"), F.lit(0).cast("long"))
    for b, row in enumerate(hyperplane_signs(n_bits, dim, seed)):
        plane = F.array(*[F.lit(x) for x in row])
        proj = F.aggregate(
            F.zip_with(v, plane, lambda x, s: x * s), F.lit(0.0), lambda a, x: a + x
        )
        sig = sig + F.when(proj > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def mismatched_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """The quarantine set: rows whose NON-NULL vector has length !=
    ``dim`` — exactly the rows ``on_mismatch="quarantine"`` drops from
    bucketing. Count or inspect them alongside the ANN join."""
    v = F.col(vec_col).cast("array<double>")
    return df.where(v.isNotNull() & (F.size(v) != F.lit(dim)))


def probe_buckets(sig_col, n_bits: int, multi_probe: bool = True):
    """Probe set for a signature: the bucket itself plus every flip-1-bit
    neighbor (multi-probe LSH) — an array column to explode on the query
    side. 1 + n_bits probes ≈ the recall of 2x tables at no extra
    storage."""
    probes = [sig_col]
    if multi_probe:
        probes += [
            sig_col.bitwiseXOR(F.lit(1 << b).cast("long")) for b in range(n_bits)
        ]
    return F.array(*probes)


def knn_join_bucketed(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 7,
    multi_probe: bool = True,
    max_bucket_size: int = 2000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    on_mismatch: str = "raise",
) -> DataFrame:
    """Approximate kNN join: random-hyperplane buckets + per-bucket
    scoring, multi-probe on the query side.

    100x-scale properties: 2^n_bits (default 65536) near-uniform buckets
    — not 2^6 skewed sign buckets; the corpus-side per-bucket cap bounds
    any bucket's candidate contribution (deterministic admission by id,
    so results are shuffle-order independent); queries explode into
    1 + n_bits flip-1-bit probes, so an exact or near duplicate in an
    adjacent bucket is still found. Identical vectors always share a
    bucket — planted-duplicate recall is 1.0 by construction.
    ``on_mismatch="quarantine"`` drops wrong-length vectors (NULL
    signature) instead of aborting — see :func:`rh_signature` and
    :func:`mismatched_vectors`.
    """
    from pyspark.sql import Window

    def with_bucket(df, prefix):
        # a NULL embedding can never match anything — drop it up front
        # so it neither crowds bucket 0's cap (evicting real
        # signature-0 vectors) nor emits null-cosine rows into top-k;
        # in quarantine mode the NULL-signature (mismatched) rows drop
        # with the same filter
        v = F.col(vec_col).cast("array<double>")
        return (
            df.where(F.col(vec_col).isNotNull())
            .select(
                F.col(id_col).alias(f"{prefix}_id"),
                v.alias(f"{prefix}_vec"),
                rh_signature(
                    F.col(vec_col), n_bits, dim, seed, on_mismatch
                ).alias("_sig"),
            )
            .where(F.col("_sig").isNotNull())
        )

    c = with_bucket(emb, "c").withColumnRenamed("_sig", "bucket")
    if max_bucket_size and max_bucket_size > 0:
        wcap = Window.partitionBy("bucket").orderBy("c_id")
        c = (
            c.withColumn("_rn", F.row_number().over(wcap))
            .where(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
    q = with_bucket(queries, "q").withColumn(
        "bucket", F.explode(probe_buckets(F.col("_sig"), n_bits, multi_probe))
    ).drop("_sig")
    scored = (
        q.join(c, "bucket")
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (_norm(F.col("q_vec")) * _norm(F.col("c_vec"))),
                3,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
