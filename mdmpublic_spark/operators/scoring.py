"""Stage 4 — batched pairwise scoring inside Arrow-vectorized UDFs.

Reference analog: the MDM engine scores candidate pairs on a bounded
computation pool (16..64 threads —
/root/reference/chef/setup_jenkins/jenkins_jobs/DeploySystem/config.xml:91-92,111);
our pool is the executor fleet, and each Arrow batch is one "work item".

Design for the 100 TB case:
  * **Score on capped representations, computed once per page.** The
    feature stage projects each page to (title ≤80 chars, first
    ``max_tokens`` normalized tokens). Pairs join against this narrow
    features table twice (a/b sides); the full text/html never enters
    the pair shuffle.
  * **Cheap-first cascade inside the UDF.** Token-set Jaccard gates the
    O(len²) metrics: pairs below ``gate`` skip Jaro-Winkler/Levenshtein
    entirely (they cannot reach the match threshold anyway). On skewed
    real data most candidate pairs die at the gate.
  * **One Python crossing per task.** A single pandas UDF returns the
    set metrics and gated Jaro-Winkler (numpy and functions/
    similarity.py, so scores are bit-stable across library versions);
    Levenshtein and the weighted blend are JVM built-ins.

Score = 0.10·tokenJaccard + 0.20·shingleJaccard
        + 0.35·shingleContainment + 0.25·JW(title) + 0.10·levRatio(title).

Shingle **containment** (|A∩B| / min(|A|,|B|)) carries the largest
weight because the dominant near-duplicate transformation on the web is
*truncation* (one side is a prefix/subset of the other): plain Jaccard
collapses for short truncated docs while containment stays high.
Calibrated on the labeled fixtures when the pipeline was first built
(round 1, an offline string-shingle rescoring of every labeled pair):
with stop-shingle suppression and real <title> comparison the score gap
was positives ≥ 0.621 vs negatives ≤ 0.273; threshold 0.45 sits mid-gap,
and cluster transitivity rescues outlier pairs whose neighbors chain.
(tests/test_pipeline.py asserts pairwise F1 ≥ 0.99.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from mdmpublic_spark.functions.similarity import (
    jaro_winkler,
    jaro_winkler_batch,
    levenshtein_ratio,
)
from mdmpublic_spark.functions.text import (
    shingle_hashes_from_token_hashes,
    title_expr,
    token_hashes_expr,
    tokens_expr,
)

SCORE_SCHEMA = StructType(
    [
        StructField("jac_token", DoubleType()),
        StructField("jac_shingle", DoubleType()),
        StructField("cont_shingle", DoubleType()),
        StructField("jw_title", DoubleType()),
        StructField("lev_title", DoubleType()),
        StructField("score", DoubleType()),
    ]
)

W_TOKEN, W_SHINGLE, W_CONT, W_JW, W_LEV = 0.10, 0.20, 0.35, 0.25, 0.10
GATE = 0.08  # token-jaccard below this cannot reach any sane threshold
# round-1 calibration on the labeled fixtures: positives ≥ 0.621, negatives
# ≤ 0.273 (with stop-shingle suppression + real titles) — 0.45 sits mid-gap
DEFAULT_THRESHOLD = 0.45


def _inter_sorted(a, b) -> int:
    """|A ∩ B| for sorted-unique int arrays: searchsorted merge count —
    no concatenate/sort/allocate the way np.intersect1d does (~4x less
    memory traffic, which matters with 32 workers sharing a socket)."""
    if a.size > b.size:
        a, b = b, a
    if a.size == 0:
        return 0
    idx = np.searchsorted(b, a)
    mask = idx < b.size
    return int(np.count_nonzero(b[idx[mask]] == a[mask]))


def _score_hashed(title_a, title_b, th_a, th_b, sh_a, sh_b):
    """Score one pair from hashed (sorted-distinct int32) feature arrays —
    the body of ``make_score_udf``, the reference the score stage is
    pinned to bit for bit (tests: test_jvm_scoring_bit_equals_python_udf).

    Jaccard/containment only read set *cardinalities*, which hashing
    preserves (collision odds within a ~10^2-element doc set are ~10^-6)."""
    la, lb = th_a.size, th_b.size
    if la == 0 and lb == 0:
        jt = 1.0
    else:
        i = _inter_sorted(th_a, th_b)
        u = la + lb - i
        jt = i / u if u else 0.0
    if jt < GATE:
        return (jt, 0.0, 0.0, 0.0, 0.0, W_TOKEN * jt)
    sa, sb = sh_a.size, sh_b.size
    inter = _inter_sorted(sh_a, sh_b)
    union = sa + sb - inter
    js = inter / union if union else (1.0 if sa == 0 and sb == 0 else 0.0)
    cs = inter / min(sa, sb) if sa and sb else 0.0
    ta, tb = title_a.lower(), title_b.lower()
    if ta == tb:
        jw = lv = 1.0
    else:
        jw = jaro_winkler(ta, tb)
        lv = levenshtein_ratio(ta, tb)
    return (
        jt,
        js,
        cs,
        jw,
        lv,
        W_TOKEN * jt + W_SHINGLE * js + W_CONT * cs + W_JW * jw + W_LEV * lv,
    )


_EMPTY_I32 = np.empty(0, dtype=np.int32)


def make_score_udf():
    """Pair-scoring pandas UDF over pre-hashed features.

    Why hashes and not token arrays: an array<string> column crossing
    Arrow materializes every token as a Python str object — at ~10²
    tokens per side that is ~10⁸ string allocations per 10⁶ pairs, and
    allocation churn (not similarity math) dominated the stage (observed
    10-20× the cost of the pure scoring loop, with wild run-to-run
    variance). array<int> columns surface as int numpy views —
    near-zero marshalling — and every set operation runs in C.
    """

    @F.pandas_udf(SCORE_SCHEMA)
    def score_pair(
        title_a: pd.Series,
        title_b: pd.Series,
        th_a: pd.Series,
        th_b: pd.Series,
        sh_a: pd.Series,
        sh_b: pd.Series,
    ) -> pd.DataFrame:
        rows = []
        for a, b, ta, tb, xa, xb in zip(title_a, title_b, th_a, th_b, sh_a, sh_b):
            rows.append(
                _score_hashed(
                    a or "",
                    b or "",
                    np.asarray(ta if ta is not None else _EMPTY_I32, dtype=np.int32),
                    np.asarray(tb if tb is not None else _EMPTY_I32, dtype=np.int32),
                    np.asarray(xa if xa is not None else _EMPTY_I32, dtype=np.int32),
                    np.asarray(xb if xb is not None else _EMPTY_I32, dtype=np.int32),
                )
            )
        return pd.DataFrame(rows, columns=[f.name for f in SCORE_SCHEMA.fields])

    return score_pair


_MAX_TOKENS = 1024


def page_features(pages: DataFrame, stop_hashes32: list[int] | None = None) -> DataFrame:
    """(url, text[, title]) → (url, title, tok_h, sh_h) — the narrow
    scoring projection, entirely JVM-side (no Python crossing):

      tok_h  sorted distinct 32-bit hashes (murmur of the 64-bit xxhash64
             token id) of the first ``_MAX_TOKENS`` normalized tokens,
      sh_h   sorted distinct 32-bit hashes (murmur of the 64-bit combined
             shingle id, functions.text.shingle_hashes_from_token_hashes)
             of the 3-word shingles of those tokens, minus the
             ``stop_hashes32`` boilerplate shingles (the profile's h32
             column — same derivation chain, so ids compare exactly).

    No shingle string is ever materialized — tokenize/hash-chain/mask are
    all built-in primitive-typed expressions, so the projection stays
    inside whole-stage codegen, allocates no window strings (the string
    variant was GC-bound and stopped scaling at 32 cores), and the
    feature arrays cross Arrow as ints — see make_score_udf for why that
    matters. Uses the real html <title> when present; empty titles fall
    back to a text prefix."""
    if "title" in pages.columns:
        title = F.coalesce(
            F.nullif(F.col("title"), F.lit("")), title_expr(F.col("text"))
        )
    else:
        title = title_expr(F.col("text"))

    # Materialize the token array, then the token-HASH array, each as its
    # own attribute BEFORE element-wise reference (see functions.text
    # docstrings: F.get over a composite expression re-evaluates it per
    # element). Each token string is hashed exactly once (xxhash64);
    # everything after is long/int arithmetic.
    base = pages.select(
        "url", title.alias("title"), tokens_expr(F.col("text"), _MAX_TOKENS).alias("toks")
    ).select("url", "title", token_hashes_expr(F.col("toks")).alias("th"))
    th = F.col("th")
    # 32-bit murmur (F.hash), not the raw 64-bit ids: halves the
    # feature-array bytes through shuffle + Arrow + numpy — the 32-worker
    # score stage is memory-bandwidth-bound, so volume is latency.
    # Collision odds within a ~10^2-element doc set are ~10^-6 (birthday
    # bound) and at worst nudge one Jaccard by 1/|set|.
    tok_h = F.array_sort(F.array_distinct(F.transform(th, lambda h: F.hash(h))))
    sh_h = F.transform(shingle_hashes_from_token_hashes(th), lambda h: F.hash(h))
    if stop_hashes32:
        # boilerplate suppression on int32 ids: the stop set enters the
        # plan as an int32 array literal (4 bytes/entry — a Zipf head of
        # thousands stays KB-sized in serialized tasks)
        stop_h = sorted(set(stop_hashes32))
        sh_h = F.array_except(sh_h, F.lit(stop_h).cast("array<int>"))
    sh_h = F.array_sort(sh_h)
    return base.select(
        "url",
        "title",
        tok_h.alias("tok_h"),
        sh_h.alias("sh_h"),
    )


# the metrics score_pairs takes from Python; Levenshtein and the blend stay in the JVM
PAIR_METRICS_SCHEMA = StructType(SCORE_SCHEMA.fields[:4])


def _jw_gated(ta: np.ndarray, tb: np.ndarray, need: np.ndarray) -> np.ndarray:
    """Jaro-Winkler on (pre-lowered) title pairs where ``need`` is set,
    0.0 elsewhere: pairs that failed the token-Jaccard gate cost a loop
    iteration, nothing more. Equal titles short-circuit to 1.0 (=
    jaro_winkler's exact value on equal strings); the rest go through
    jaro_winkler_batch — the matrix-vectorized exact implementation (one
    C-side row op per char instead of a Python inner loop; bit-identical
    by construction and by fuzz test)."""
    out = np.zeros(len(ta), dtype=np.float64)
    sel_i, sel_a, sel_b = [], [], []
    for i in range(len(ta)):
        if need[i]:
            a = ta[i] or ""
            b = tb[i] or ""
            if a == b:
                out[i] = 1.0
            else:
                sel_i.append(i)
                sel_a.append(a)
                sel_b.append(b)
    if sel_i:
        out[np.asarray(sel_i)] = jaro_winkler_batch(sel_a, sel_b)
    return out


def make_pair_metrics_udf():
    """The score stage's one Python crossing: token/shingle set metrics
    over the pre-hashed sorted-distinct int32 feature arrays — one tight
    numpy loop per Arrow batch (searchsorted merge-intersect, no per-row
    Python objects beyond the array views) — plus Jaro-Winkler on the
    lowered titles, the one metric with no Spark built-in (_jw_gated).

    Why not JVM ``array_intersect``: it builds a *boxed* hash set per row
    — measured 4,200 CPU core-seconds for 9.8M pairs at 32 cores (vs
    ~230 here), and the allocation churn anti-scales on a shared LLC.
    The shingle metrics and Jaro-Winkler are only computed for pairs that
    pass the token-Jaccard gate (same cascade as _score_hashed)."""

    @F.pandas_udf(PAIR_METRICS_SCHEMA)
    def pair_metrics(
        th_a: pd.Series,
        th_b: pd.Series,
        sh_a: pd.Series,
        sh_b: pd.Series,
        ta: pd.Series,
        tb: pd.Series,
    ) -> pd.DataFrame:
        tha, thb = th_a.to_numpy(), th_b.to_numpy()
        sha, shb = sh_a.to_numpy(), sh_b.to_numpy()
        n = len(tha)
        jt = np.empty(n, dtype=np.float64)
        js = np.zeros(n, dtype=np.float64)
        cs = np.zeros(n, dtype=np.float64)
        for i in range(n):
            a, b = tha[i], thb[i]
            la = 0 if a is None else a.size
            lb = 0 if b is None else b.size
            if la == 0 and lb == 0:
                j = 1.0
            elif la == 0 or lb == 0:
                j = 0.0
            else:
                inter = _inter_sorted(a, b)
                j = inter / (la + lb - inter)
            jt[i] = j
            if j >= GATE:
                a, b = sha[i], shb[i]
                sa = 0 if a is None else a.size
                sb = 0 if b is None else b.size
                if sa == 0 and sb == 0:
                    js[i] = 1.0
                elif sa and sb:
                    inter = _inter_sorted(a, b)
                    js[i] = inter / (sa + sb - inter)
                    cs[i] = inter / min(sa, sb)
        jw = _jw_gated(ta.to_numpy(), tb.to_numpy(), jt >= GATE)
        return pd.DataFrame(
            {"jac_token": jt, "jac_shingle": js, "cont_shingle": cs, "jw_title": jw}
        )

    return pair_metrics


def make_jw_udf():
    """Jaro-Winkler alone, (ta, tb, need) → double: the score stage's
    gated title arm (_jw_gated) for callers without feature arrays."""

    @F.pandas_udf(DoubleType())
    def jw_title(ta: pd.Series, tb: pd.Series, need: pd.Series) -> pd.Series:
        return pd.Series(_jw_gated(ta.to_numpy(), tb.to_numpy(), need.to_numpy()))

    return jw_title


def score_pairs(
    pairs: DataFrame,
    features: DataFrame,
    embeddings: DataFrame | None = None,
    w_cos: float = 0.25,
) -> DataFrame:
    """pairs(url_a,url_b) ⨝ features×2 → scored pairs (url_a, url_b, the
    five metrics[, cos_emb], score); ``match_edges`` thresholds them.

    ``embeddings`` (optional): a (url, embedding array<double>) table.
    When given, a ``cos_emb`` column (JVM-side cosine, no Python
    crossing) joins the cascade and the blended score becomes
    ``score + w_cos·cos_emb`` for gated pairs — the reference cascade's
    "optional embedding cosine" term. Pairs whose urls lack an
    embedding contribute 0 for the term (left join, coalesce), so a
    partially-embedded corpus degrades gracefully instead of dropping
    pairs. The embedding join uses the same scoped shuffle_hash shape
    as the features joins (narrow build side, no sort of the pair
    stream). Default ``embeddings=None`` leaves the plan and scores
    bit-identical to the base cascade.

    The features join is a plain shuffle equi-join on url (uniform key, no
    skew); at cluster scale pre-bucketing the features table by url makes
    both joins co-located (bucketed Iceberg write — see tables.py note).

    Both joins carry a ``shuffle_hash`` hint on the features side: sorting
    the pair stream widened with int64 feature arrays twice (once per SMJ)
    measured ~4x the cost of the joins themselves. The hint is scoped here
    — not a session default — because shuffled-hash cannot spill its build
    side; the build side here is the narrow per-page features table, whose
    per-partition slice is bounded by the shuffle partition count.

    **Metric placement is profile-driven** (800k-page corpus, measured):
    the all-Python scoring UDF cost ~150 µs/pair, of which ~120 µs was
    title Levenshtein+Jaro-Winkler (the pure-Python DP on ~20-char
    strings) and only ~24 µs the set intersections. JVM
    ``array_intersect`` is NOT the answer — its boxed per-row hash sets
    measured 4,200 CPU core-s for 9.8M pairs and anti-scale on a shared
    LLC. So: set metrics (numpy searchsorted) and gated Jaro-Winkler
    in ONE pandas UDF (make_pair_metrics_udf) — each Python crossing is
    a worker launch per task, so the stage pays it once — and
    **Levenshtein via the ``levenshtein`` built-in** (char-array DP in
    the JVM, gated + equal-title short-circuited), with the weighted
    blend JVM-side too. Numerics are unchanged: same integer cardinalities,
    same IEEE division order, same left-to-right weighted sum
    (tests/test_tables_and_pairs.py::test_jvm_scoring_bit_equals_python_udf
    pins bit-equality against the reference UDF)."""
    fa = features.select(
        F.col("url").alias("url_a"),
        F.col("title").alias("title_a"),
        F.col("tok_h").alias("th_a"),
        F.col("sh_h").alias("shh_a"),
    )
    fb = features.select(
        F.col("url").alias("url_b"),
        F.col("title").alias("title_b"),
        F.col("tok_h").alias("th_b"),
        F.col("sh_h").alias("shh_b"),
    )
    gated = F.col("jac_token") >= F.lit(GATE)
    ta, tb = F.lower(F.coalesce("title_a", F.lit(""))), F.lower(F.coalesce("title_b", F.lit("")))
    lv = (
        F.when(~gated, F.lit(0.0))
        .when(F.col("_ta") == F.col("_tb"), F.lit(1.0))
        .otherwise(
            F.lit(1.0)
            - F.levenshtein("_ta", "_tb").cast("double")
            / F.greatest(F.length("_ta"), F.length("_tb")).cast("double")
        )
    )
    metrics_udf = make_pair_metrics_udf()
    joined = (
        pairs.join(fa.hint("shuffle_hash"), "url_a")
        .join(fb.hint("shuffle_hash"), "url_b")
    )
    if embeddings is not None:
        ea = embeddings.select(
            F.col("url").alias("url_a"), F.col("embedding").alias("_emb_a")
        )
        eb = embeddings.select(
            F.col("url").alias("url_b"), F.col("embedding").alias("_emb_b")
        )
        dot = lambda a, b: F.aggregate(  # noqa: E731
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
        )
        cos = dot(F.col("_emb_a"), F.col("_emb_b")) / (
            F.sqrt(dot(F.col("_emb_a"), F.col("_emb_a")))
            * F.sqrt(dot(F.col("_emb_b"), F.col("_emb_b")))
        )
        joined = (
            joined.join(ea.hint("shuffle_hash"), "url_a", "left")
            .join(eb.hint("shuffle_hash"), "url_b", "left")
            .withColumn("cos_emb", F.coalesce(cos, F.lit(0.0)))
            .drop("_emb_a", "_emb_b")
        )
        cos_term = F.lit(w_cos) * F.col("cos_emb")
        extra_cols = ["cos_emb"]
    else:
        cos_term = None
        extra_cols = []
    blend = (
        F.lit(W_TOKEN) * F.col("jac_token")
        + F.lit(W_SHINGLE) * F.col("jac_shingle")
        + F.lit(W_CONT) * F.col("cont_shingle")
        + F.lit(W_JW) * F.col("jw_title")
        + F.lit(W_LEV) * F.col("lev_title")
    )
    if cos_term is not None:
        blend = blend + cos_term
    return (
        joined.withColumn("_ta", ta).withColumn("_tb", tb)
        # the one Python crossing: the feature arrays and lowered titles
        # go in, the set metrics and gated Jaro-Winkler come out — the
        # arrays never ride past this node
        .withColumn("m", metrics_udf("th_a", "th_b", "shh_a", "shh_b", "_ta", "_tb"))
        .select("url_a", "url_b", "m.*", "_ta", "_tb", *extra_cols)
        .withColumn("lev_title", lv)
        .select(
            "url_a",
            "url_b",
            "jac_token",
            "jac_shingle",
            "cont_shingle",
            "jw_title",
            "lev_title",
            *extra_cols,
            F.when(~gated, F.lit(W_TOKEN) * F.col("jac_token"))
            .otherwise(blend)
            .alias("score"),
        )
    )


def match_edges(scored: DataFrame, threshold: float) -> DataFrame:
    """Scored pairs at ``score ≥ threshold`` → (src, dst) match edges, the
    input of ``clustering.connected_components``."""
    return scored.where(F.col("score") >= threshold).select(
        F.col("url_a").alias("src"), F.col("url_b").alias("dst")
    )
