"""Corpus-cleaning operators for LLM training-data pipelines: span-level
exact dedup (C4-style), PII scrubbing, in-document repetition signals
(Gopher rules), and deterministic training-mix quota sampling.

All four stay JVM-side (built-in functions / higher-order array ops —
no Python UDFs), so each has an exact DuckDB oracle in
queries/cleaning.py.  Scale notes per operator:

* span_dedup — the corpus-wide span-count groupBy and the count join
  both key on ``xxhash64(span)`` (8 bytes through the shuffle, the
  scoring.py:264-281 pattern), never the span string.  A 64-bit
  collision would mark a unique span as duplicated — the conservative
  direction for dedup — and is detectable by re-counting flagged spans
  grouped by text.
* pii_scrub / repetition_stats — per-row map work plus (for repetition)
  two doc-keyed groupBys with map-side combine; no corpus-wide state.
* quota_sample — pure map-side filter on an md5-derived bucket; no
  shuffle at all, and the bucket is reproducible in any engine
  (hex-digit positional decode, no engine-specific hash()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# tokens are SPACE-split (not the alnum split of text.tokens_expr):
# span dedup must reassemble the surviving text byte-identically, so the
# tokenizer has to be a partition of the original string.  NULL text is
# coalesced to '' so size() is 0, never -1 — without it size(null)=-1
# skips the n==0 branch and sequence(0, ceil(-1/k)-1) emits phantom
# null spans into the corpus-wide count table, while the DuckDB oracle
# (same coalesce) drops the doc; both engines must agree on NULL.

SPAN_TOKENS = 10  # tokens per dedup span (C4 dedups ~3-sentence spans)

# --- PII patterns: ASCII-explicit so Java regex (Spark) and RE2
# (DuckDB) agree byte-for-byte; no \d, \b, or unicode classes.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
PHONE_RE = "[0-9]{3}-[0-9]{4}"


def _space_tokens():
    return F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "), lambda t: t != ""
    )


def span_dedup(
    docs: DataFrame, id_col: str = "doc_id", span_tokens: int = SPAN_TOKENS
) -> DataFrame:
    """C4/RefinedWeb-style span-level exact dedup across the corpus.

    Splits every document into consecutive ``span_tokens``-token spans,
    counts each distinct span corpus-wide, flags spans occurring more
    than once, and reassembles the surviving text per document.  Output:
    (id, n_spans, n_dup_spans, clean_md5) where clean_md5 fingerprints
    the reassembled text (md5('') for fully-duplicated docs).

    Plan shape: posexplode (map-side) → groupBy xxhash64(span) with
    map-side combine → one keyed join back → groupBy id.  The only
    corpus-wide state is the span-count table, keyed by int64.
    """
    k = span_tokens
    toks = _space_tokens()
    n = F.size(toks)
    spans_col = F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), (F.ceil(n / F.lit(k)) - 1).cast("int")),
            lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "),
        )
    )
    spans = docs.select(
        F.col(id_col), F.posexplode(spans_col).alias("span_idx", "span_text")
    ).withColumn("h64", F.xxhash64("span_text"))
    counts = spans.groupBy("h64").agg(F.count("*").alias("span_count"))
    flagged = spans.join(counts, "h64").withColumn("dup", F.col("span_count") > 1)
    kept_struct = F.when(
        ~F.col("dup"), F.struct(F.col("span_idx"), F.col("span_text"))
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_spans"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s.span_text
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


def pii_scrub(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """PII redaction: count and replace emails, IPv4 addresses, and
    phone-shaped numbers.  Counts are taken before redaction; redaction
    applies email → ip → phone in that fixed order (the orders differ
    only on overlapping matches, so pinning it keeps every engine
    byte-identical).  Output: (id, n_emails, n_ips, n_phones,
    scrubbed_md5).  Pure map-side; nothing shuffles."""
    t = F.lower(F.col("text"))
    red = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, IP_RE, "<IP>")
    red = F.regexp_replace(red, PHONE_RE, "<PHONE>")
    return docs.select(
        id_col,
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(IP_RE)).alias("n_ips"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
        F.md5(red).alias("scrubbed_md5"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Gopher-style in-document repetition signals: duplicate-token
    fraction, most-common-token fraction, most-common-bigram fraction.

    Token and bigram counting go through explode → groupBy(id, gram)
    → groupBy(id) (both with map-side partial aggregation) instead of
    per-row O(n²) higher-order loops, so cost stays linear in corpus
    tokens for arbitrarily long documents.  Ratios are IEEE double
    divisions of exact integers — bit-reproducible in any engine."""
    toks = _space_tokens()
    base = docs.select(F.col(id_col), toks.alias("toks"))
    uni = (
        base.select(id_col, F.explode("toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("max_tok"),
        )
    )
    bigrams_col = F.zip_with(
        F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
        F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bi = (
        base.select(id_col, F.explode(bigrams_col).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("max_bigram"), F.sum("c").alias("n_bigrams"))
    )
    n = F.col("n_tokens").cast("double")
    return (
        uni.join(bi, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "n_distinct",
            ((F.col("n_tokens") - F.col("n_distinct")) / n).alias("dup_token_frac"),
            (F.col("max_tok") / n).alias("top_token_frac"),
            F.coalesce(
                F.col("max_bigram") / F.col("n_bigrams").cast("double"), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


# per-language keep-quotas (percent of the 0..99 hash buckets) — the
# training-mix shape: downsample the dominant language, keep the tail.
DEFAULT_QUOTAS: dict[str, int] = {"en": 50, "fr": 30, "es": 30, "de": 20, "zh": 10}

_HEX = "0123456789abcdef"


def _md5_bucket(id_col: str):
    """Deterministic 0..99 bucket from the first two hex digits of
    md5(id) — positional decode (strpos/instr) instead of an
    engine-specific hash(), so any SQL engine reproduces the exact
    sample.  256 raw values fold onto 100 buckets; the fold bias
    (buckets 0..55 see 3/256, 56..99 see 2/256) is identical everywhere
    and irrelevant for mixing."""
    d1 = F.expr(f"instr('{_HEX}', substr(md5(cast({id_col} as string)), 1, 1))") - 1
    d2 = F.expr(f"instr('{_HEX}', substr(md5(cast({id_col} as string)), 2, 1))") - 1
    return (d1 * 16 + d2) % 100


def quota_sample(
    docs: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    quotas: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic per-language quota sampling for training-data
    mixing: keep a document iff its md5-derived bucket falls under its
    language's quota.  Reproducible across runs, engines, and cluster
    sizes (no RNG, no partition sensitivity — the property sampleBy()
    cannot give you).  Output rows are the sample itself with per-row
    token counts, so the mix's token budget is one groupBy away."""
    q = quotas if quotas is not None else DEFAULT_QUOTAS
    rate = F.lit(0)
    for lang, pct in q.items():
        rate = F.when(F.col(lang_col) == lang, pct).otherwise(rate)
    bucket = _md5_bucket(id_col)
    return (
        docs.withColumn("bucket", bucket.cast("int"))
        .where(F.col("bucket") < rate)
        .select(
            id_col,
            lang_col,
            "bucket",
            F.size(_space_tokens()).alias("n_tokens"),
        )
    )
