"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (a desktop alignment tool) but mandated as
first-class engine components for the 100 TB target. All operators are
pure DataFrame compositions (JVM-side, codegen'd) except where hashing
math requires vectorized arithmetic — still built-in expressions here.

Scale notes:
* exact dedup = hash-groupBy, map-side combinable, AQE-coalesced;
* MinHash-LSH: shingles -> explode -> min per (doc, perm) via xxhash64
  with per-permutation seeds -> band keys -> self-join on band bucket —
  the quadratic step is confined to same-bucket pairs;
* SimHash: 64-bit sign-aggregated token hashes; near-dup candidates
  share one of 4 16-bit chunks (Hamming <= 3 in practice);
* n-gram Jaccard verifies candidate pairs exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col):
    """Lowercase, collapse whitespace, strip punctuation-ish chars."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact normalized-text group.
    Returns (doc_id, n_copies) for kept docs.

    Group key is 128 bits from two xxhash64 halves over DIFFERENT
    inputs (the text, and the text under a domain-separation prefix): a
    single 64-bit key has ~2.7% collision probability at 10^9 rows
    (birthday bound n^2/2^65), which silently merges distinct docs; two
    independent halves push the bound to ~3e-21. NB a multi-column
    xxhash64(norm, lit) would NOT be independent — Spark folds columns
    by seeding each hash with the previous result, so that form is a
    pure function of xxhash64(norm) and any h_lo collision would
    collide on h_hi too. Prefixing the *input* breaks the dependency:
    the two halves hash different byte strings."""
    norm = normalize_text(F.col(text_col))
    key_lo = F.xxhash64(norm).alias("h_lo")
    key_hi = F.xxhash64(F.concat(F.lit("s2|"), norm)).alias("h_hi")
    return (
        df.select(F.col(id_col), key_lo, key_hi)
        .groupBy("h_lo", "h_hi")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("h_lo", "h_hi")
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Distinct word k-shingles per document: (doc_id, shingle:long).

    arrays_zip of k shifted slices + explode + one multi-arg xxhash64 —
    stays on the codegen path. (A transform(...slice...) lambda looks
    natural but Spark evaluates higher-order lambdas interpreted, per
    element: ~20x slower on wide corpora.)
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    m = F.greatest(n - (k - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(words, i + 1, m).alias(f"w{i}") for i in range(k)]
    )
    ex = df.select(F.col(id_col), F.explode(zipped).alias("_z"))
    return ex.select(
        F.col(id_col),
        F.xxhash64(*[F.col(f"_z.w{i}") for i in range(k)]).alias("shingle"),
    ).dropDuplicates([id_col, "shingle"])


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_perm: int = 32
) -> DataFrame:
    """(doc_id, sig:array<long>): minimum of seeded rehashes per permutation.

    num_perm parallel min() aggregates over the shingle rows — no perm
    explosion, so the shuffle carries one map-side-combined partial row
    per (doc, partition) instead of num_perm x shingles rows.
    """
    hashed = sh.select(
        F.col(id_col),
        *[F.xxhash64(F.col("shingle"), F.lit(p)).alias(f"_h{p}") for p in range(num_perm)],
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{p}").alias(f"_m{p}") for p in range(num_perm)]
    )
    return agg.select(
        id_col, F.array(*[F.col(f"_m{p}") for p in range(num_perm)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Band the signatures and self-join on (band, band_hash) buckets.
    Returns distinct candidate pairs (a < b).

    ``max_bucket_size`` bounds the per-bucket quadratic blowup at scale:
    a degenerate bucket (thousands of identical boilerplate docs) keeps
    only its first ``max_bucket_size`` members by id — deterministic, and
    pairs within the kept sample still mark the cluster as duplicated
    (exact-hash dedup catches byte-identical members regardless). The
    cost is still quadratic in the cap, and interpreted: a full bucket
    explodes into cap·(cap − 1)/2 pair structs (~125k at the default
    500) through nested higher-order ``transform`` lambdas, which Spark
    evaluates per element without codegen (~20x slower, see
    ``shingles``). Raising the cap 4x costs ~16x per full bucket."""
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("sig"),
                                b * (F.size("sig") / bands).cast("int") + 1,
                                (F.size("sig") / bands).cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                    ),
                    b,
                ),
            )
        ).alias("band", "bucket"),
    )
    if max_bucket_size and max_bucket_size > 0:
        # bucket-array pair generation: ONE aggregation collects every
        # bucket's sorted member list and pairs explode from the array —
        # a left/right self-join re-evaluates the whole banding subtree
        # (shingles -> explode -> 16-32 hashes -> groupBy-min -> banding)
        # once PER SIDE, because Catalyst does not dedupe common subtrees
        # (plan audit r08: two identical 24-node pipelines under the
        # join). The cap applies BEFORE the aggregation: row_number over
        # (band, bucket) by id keeps the first `cap` ids, so no
        # aggregation buffer holds more than `cap` ids (500 ids ~ 4 KB),
        # however large a degenerate bucket grows. Pairs (ids[i], ids[j])
        # with i<j are exactly the a < b join pairs.
        rank = F.row_number().over(
            Window.partitionBy("band", "bucket").orderBy(F.col(id_col))
        )
        capped = banded.withColumn("_rank", rank).where(F.col("_rank") <= max_bucket_size)
        buckets = capped.groupBy("band", "bucket").agg(
            F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
        )
        pair_structs = F.flatten(
            F.transform(
                F.col("_ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("_ids"), i + 2, F.size(F.col("_ids"))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
        return (
            buckets.select(F.explode(pair_structs).alias("_p"))
            .select("_p.a", "_p.b")
            .distinct()
        )
    # uncapped path: keep the streaming self-join — a degenerate bucket
    # explodes quadratically either way, but the join never materializes
    # one bucket's members in a single task's memory
    left = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over word k-shingles for candidate pairs; keeps
    pairs with similarity >= threshold. Join-reuses the shingle table."""
    sh = shingles(df, text_col, id_col, k)
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        pairs.join(a, "a")
        .join(b, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    return (
        inter.join(sizes.withColumnRenamed(id_col, "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed(id_col, "b").withColumnRenamed("n", "nb"), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document: sign of the per-bit sum of token
    hashes. 64 parallel sum() aggregates over the word rows — no 64-way
    bit explosion; one map-side-combined partial per (doc, partition)."""
    words = df.select(
        F.col(id_col), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("w")
    ).where(F.col("w") != "")
    h = words.withColumn("h", F.xxhash64("w"))
    bit_sums = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(h & shiftleft(1L, {b})) != 0"), 1).otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(64)
        ]
    )
    sim = None
    for b in range(64):
        weight = (1 << b) if b < 63 else -(1 << 63)  # top bit = long sign bit
        term = F.when(F.col(f"_b{b}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = term if sim is None else sim + term
    return bit_sums.select(F.col(id_col), sim.alias("simhash"))


def embedding_near_dup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_bits: int = 16,
    dim: int = 64,
    seed: int = 7,
    multi_probe: bool = True,
    max_bucket_size: int = 2000,
    on_mismatch: str = "raise",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Scale path mirrors knn_join_bucketed (similarity.py): seeded
    random-hyperplane signatures (2^n_bits near-uniform buckets — NOT
    the leading raw dimensions, whose correlation skews buckets at real
    embedding distributions), flip-1-bit multi-probe on one side of the
    self-join, and a deterministic per-home-bucket cap on the BASE set
    (both join sides descend from it) so a degenerate bucket's pair
    space is bounded by max_bucket_size² x (1 + n_bits) regardless of
    corpus size or skew.
    Exact duplicates share a signature, so planted-duplicate recall is
    1.0 even single-probe. ``on_mismatch="quarantine"`` drops
    wrong-length vectors instead of aborting (see
    similarity.rh_signature / mismatched_vectors).
    """
    from pyspark.sql import Window

    from brdrq_spark.operators.similarity import probe_buckets, rh_signature

    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x))
    # NULL embeddings can never be near-duplicates of anything; drop
    # them before bucketing so they don't consume the per-bucket cap
    # (quarantined NULL signatures drop with the same filter below)
    emb = emb.where(F.col(vec_col).isNotNull())
    base = emb.select(
        F.col(id_col),
        F.col(vec_col),
        norm.alias("nrm"),
        rh_signature(F.col(vec_col), n_bits, dim, seed, on_mismatch).alias("_sig"),
    ).where(F.col("_sig").isNotNull())
    # cap the BASE per home bucket (one window, before either side is
    # derived): both the probe side's explode and the build side descend
    # from the capped set, so a degenerate bucket's pair space is bounded
    # by max_bucket_size² x (1 + n_bits) regardless of corpus skew —
    # capping only the build side would still let N probe rows join it
    if max_bucket_size and max_bucket_size > 0:
        wcap = Window.partitionBy("_sig").orderBy(id_col)
        base = (
            base.withColumn("_rn", F.row_number().over(wcap))
            .where(F.col("_rn") <= max_bucket_size)
            .drop("_rn")
        )
    b = base.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
        F.col("nrm").alias("nb"),
        F.col("_sig").alias("bucket"),
    )
    a = base.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
        F.col("nrm").alias("na"),
        F.explode(probe_buckets(F.col("_sig"), n_bits, multi_probe)).alias("bucket"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )
