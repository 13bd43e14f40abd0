"""Text analysis operators: language-ID, quality scoring, token stats,
document fingerprinting.

All but the fingerprint are pure built-in column expressions (JVM-side,
codegen) so each has an exact DuckDB oracle. The heuristics follow the
standard web-corpus cleaning recipes (stopword-density language scoring,
length/punctuation/stopword quality gates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mdmpublic_spark.functions.hashing import fingerprint
from mdmpublic_spark.functions.text import tokens_expr

# tiny closed-class stopword profiles (top function words)
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
PT_STOP = ["de", "que", "e", "o", "da", "do", "em", "um", "para", "com"]


# GPT-2-style pre-tokenizer shape: letter runs, digit runs, and
# non-space punctuation runs each become one piece. Counting matches of
# this regex approximates a BPE tokenizer's pre-split piece count (the
# budget number training pipelines plan with) without any vocab. Kept to
# explicit ASCII classes so the Java and DuckDB/RE2 regex engines agree
# byte-for-byte on every corpus.
BPE_PIECE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"


def token_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace words, alnum tokens, distinct tokens,
    BPE-ish pieces, chars — the building block of corpus size accounting
    (token budgets are the planning unit of LLM-training pipelines)."""
    toks = tokens_expr(F.col("text"))
    return docs.select(
        id_col,
        F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != "")).alias("n_words"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.regexp_count(F.lower(F.col("text")), F.lit(BPE_PIECE_RE)).alias("n_bpe_pieces"),
        F.length("text").alias("n_chars"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stopword-profile language ID (en vs pt vs unknown).

    Scores = closed-class token hits per profile; prediction = argmax
    with a minimum-evidence gate. Exactly expressible in SQL (oracle in
    queries/training_data.py)."""
    toks = tokens_expr(F.col("text"))
    en = F.size(F.filter(toks, lambda t: t.isin(EN_STOP)))
    pt = F.size(F.filter(toks, lambda t: t.isin(PT_STOP)))
    return docs.select(
        id_col,
        en.alias("en_hits"),
        pt.alias("pt_hits"),
        F.when((en >= 1) & (en >= pt), "en")
        .when(pt >= 1, "pt")
        .otherwise("unknown")
        .alias("lang_pred"),
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Quality signals: length, mean word length, stopword ratio,
    non-alnum (punct) ratio, plus a composite keep/drop flag — the
    standard pre-training corpus filter shape."""
    toks = tokens_expr(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    alnum_chars = F.length(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOP + PT_STOP)))
    mean_tok_len = F.when(n_tok > 0, alnum_chars.cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(
        n_chars > 0, (n_chars - alnum_chars).cast("double") / n_chars
    ).otherwise(F.lit(1.0))
    stop_ratio = F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(
        F.lit(0.0)
    )
    return docs.select(
        id_col,
        n_chars.alias("n_chars"),
        n_tok.alias("n_tokens"),
        mean_tok_len.alias("mean_tok_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        (
            (n_chars >= 100)
            & (n_tok >= 20)
            & (mean_tok_len >= 2.0)
            & (mean_tok_len <= 12.0)
            & (punct_ratio <= 0.6)
        ).alias("keep"),
    )


def doc_fingerprints(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Winnowing-style rolling-hash fingerprints (functions/hashing.py) —
    the compact near-identity sketch used for fast doc lookup.

    Output is exploded to scalar rows (doc_id, fp_rank, fp): fp_rank is
    the fingerprint's position in the sorted sketch (0 = smallest window
    hash). Scalar rows make the result joinable on fp (the lookup use
    case) and canonically hashable by exact-comparison harnesses."""
    return docs.select(
        id_col, F.posexplode(fingerprint(F.col("text"))).alias("fp_rank", "fp")
    )


def group_median(
    docs: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Exact per-group median via ``applyInPandas`` — the grouped-map
    Arrow UDF pattern (SURVEY.md §2.10): ship each whole group to one
    Python worker as a pandas frame and run arbitrary per-group logic.

    Exact median is the canonical case where the pattern earns its cost:
    Spark's built-in ``percentile_approx`` is an approximation, and the
    exact built-in ``median``/``percentile`` aggregates buffer the full
    group on the JVM side anyway, so the grouped-map UDF is no worse
    asymptotically while demonstrating the general mechanism (any numpy/
    pandas computation per group). Scale story: ``groupBy(...).
    applyInPandas`` shuffles complete groups — one group must fit in one
    worker's memory. Grouping keys here are domains/sources, whose
    per-key row counts the profile stage already bounds; for heavy-hat
    keys at 100 TB, pre-aggregate to (key, value, count) first (the
    weighted-median trick) or fall back to percentile_approx.

    Output: (group_col, median_<value_col> double, n_rows bigint).
    """
    import pandas as pd

    out_schema = f"{group_col} string, median_{value_col} double, n_rows long"

    def _median(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                f"median_{value_col}": [float(pdf[value_col].median())],
                "n_rows": [len(pdf)],
            }
        )

    return (
        docs.select(group_col, value_col)
        .groupBy(group_col)
        .applyInPandas(_median, schema=out_schema)
    )
