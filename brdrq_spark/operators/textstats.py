"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language-ID heuristic.

All built-in `pyspark.sql.functions` expressions (JVM-side, codegen'd,
no UDFs) so they survive 100 TB scans; each has an exact ANSI-SQL mirror
for the DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# marker words for the language-ID heuristic over the synthetic corpus
LANG_MARKERS = {
    "sql": ["table", "scan", "filter", "order"],
    "spark": ["spark", "batch", "window", "column"],
    "plain": ["value", "small", "fast", "slow"],
}


def _count_occurrences(col, word: str):
    """Occurrences of `word` in col via length arithmetic (identical
    semantics in Spark and DuckDB: (len(s)-len(replace(s,w)))/len(w))."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(word), F.lit(""))))
        / len(word)
    ).cast("long")


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + BPE-ish subword proxy (non-alnum splits)."""
    ws = F.size(F.split(F.trim(F.col(text_col)), " "))
    bpe = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != ""
        )
    )
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("n_tokens_ws"),
        bpe.cast("long").alias("n_tokens_bpe"),
    )


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality signals."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(F.lower(t), r"[^a-z]", ""))
    n_tokens = F.size(F.split(F.trim(t), " "))
    stop = sum(_count_occurrences(F.lower(t), w) for w in ["value", "table", "data"])
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_q"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 4).alias("alpha_ratio"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(stop / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
    )


def langid_heuristic(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word-count argmax language guess (n-gram-style heuristic)."""
    t = F.lower(F.col(text_col))
    scores = {
        lang: sum(_count_occurrences(t, w) for w in words)
        for lang, words in LANG_MARKERS.items()
    }
    guess = (
        F.when(
            (scores["sql"] >= scores["spark"]) & (scores["sql"] >= scores["plain"]),
            F.lit("sql"),
        )
        .when(scores["spark"] >= scores["plain"], F.lit("spark"))
        .otherwise(F.lit("plain"))
    )
    out = df.select(
        F.col(id_col),
        *[v.alias(f"score_{k}") for k, v in scores.items()],
        guess.alias("lang_guess"),
    )
    return out


# Reference search tuning (brdrq_dockwidget_featurealigner.py:168-187):
# field-name matching is case-insensitive and partial; matched fields are
# prioritized, then remaining fields fill up to the cap
SEARCH_FIELD_KEYWORDS = [
    "nr", "num", "id", "dos", "file", "key", "opm", "rem",
    "naam", "name", "code", "ref", "stat", "brdr", "feat",
]
SEARCH_MAX_FIELDS = 15


def select_search_fields(
    columns: list[str],
    keywords: list[str] | None = None,
    max_fields: int = SEARCH_MAX_FIELDS,
) -> list[str]:
    """P9 field prioritization (reference
    brdrq_dockwidget_featurealigner.py:505-529): columns whose name
    contains a keyword (case-insensitive substring) come first in table
    order, the rest follow, capped at ``max_fields``. Pure driver-side
    metadata work — no data motion."""
    kws = [k.strip().lower() for k in (keywords or SEARCH_FIELD_KEYWORDS) if k.strip()]
    matched = [c for c in columns if any(k in c.lower() for k in kws)]
    remaining = [c for c in columns if c not in matched]
    selected = matched + remaining
    return selected[:max_fields] if max_fields and max_fields > 0 else selected


def prioritized_text_search(
    df: DataFrame,
    needle: str,
    keywords: list[str] | None = None,
    max_fields: int = SEARCH_MAX_FIELDS,
) -> DataFrame:
    """P9 attribute search (reference _feature_matches_filter,
    brdrq_dockwidget_featurealigner.py:479-503): a row matches when the
    lowercase needle is a substring of any selected field's string
    value. The OR-chain of contains() stays entirely in whole-stage
    codegen — one scan, no UDF; at scale Catalyst prunes unselected
    columns out of the parquet read."""
    needle = needle.lower()
    cond = F.lit(False)
    for c in select_search_fields(df.columns, keywords, max_fields):
        cond = cond | F.lower(F.col(c).cast("string")).contains(needle)
    return df.filter(cond)
