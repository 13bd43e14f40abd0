"""Stage 2 — multi-pass blocking: normalized-domain + MinHash-LSH band keys.

Reference analog: the MDM engine never compares all record pairs — it
*searches* an inverted index (`mdm_index`) for match candidates
(/root/reference/chef/setup_jenkins/jenkins_jobs/CollectFiles/config.xml:32,
SURVEY.md §1.1 J8). Blocking keys are the Spark-native inversion of that
index: a page "posts" itself under each of its keys, and candidate
retrieval becomes a self-join on the key — shuffled, not searched.

Two key families (multi-pass, per SURVEY.md §7.4 item 4 — one pass alone
cannot reach F1 ≥ 0.99 recall):
  * ``d:{normalized domain}`` — cheap, computed JVM-side (parse_url +
    regexp_replace stay inside whole-stage codegen; zero Python cost).
    Catches the common case of same-site near-duplicates.
  * ``b{i}:{band hash}`` — MinHash-LSH band keys over the page's
    stop-filtered 3-word shingles; catches cross-domain duplicates.
    Tokenizing, shingling (as 64-bit hashed ids) and stop filtering run
    JVM-side; the ``minhash_sig`` pandas UDF is the one Python crossing
    (int64 arrays in, 64 int64 slots out); ``band_keys_expr`` renders
    the 21 band keys JVM-side.

Scale notes (100 TB): output is (url, block_key) — long and narrow.
It is *not* repartitioned here; the pair join (operators/pairs.py) owns
the shuffle on block_key so the exchange happens exactly once. Band-key
cardinality grows with corpus size, so the key space never saturates;
domain keys are Zipf-skewed, which pairs.py handles (cap + hot-block
broadcast + AQE skew split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mdmpublic_spark.functions.hashing import band_keys_expr, minhash_sig
from mdmpublic_spark.functions.text import (
    norm_domain,
    shingle_hashes_from_token_hashes,
    token_hashes_expr,
    tokens_expr,
)

DOMAIN_PREFIX = "d:"


def common_shingles(
    pages: DataFrame,
    min_stop_df: int = 20,
    stop_frac: float = 0.005,
    n_docs: int | None = None,
    sample_docs: int = 100_000,
) -> DataFrame:
    """Corpus profile: shingles whose document frequency marks them as
    boilerplate ("stop shingles") → (h, h32, df) — identified by hash
    only, never materialized as strings.

    Same-template pages share navigation/footer text; those shingles
    carry no identity signal but inflate both LSH candidate volume and
    containment scores (they caused measurable false cluster-merges on
    the fixtures). DF threshold = max(min_stop_df, stop_frac·n_docs):
    genuine duplicate content has DF ≈ cluster size (small), boilerplate
    has DF ≈ a constant fraction of the corpus, so the two are separable
    at any scale.

    Shingle identity is the 64-bit combined token hash
    (functions.text.shingle_hashes_from_token_hashes) — the whole profile
    aggregation runs on primitive longs. Building shingle *strings* here
    left the stage allocation-bound and non-scaling at 32 cores (200s at
    800k pages, ~no speedup 8→32); the hashed groupBy keeps map-side
    partial aggregation, shuffle and the final filter in codegen'd
    primitive ops. ``h32`` = murmur32 of the 64-bit id, for consumers
    whose feature arrays are int32 (operators/scoring.py).

    **Document sampling** (``sample_docs``): the profile only needs the
    Zipf *head* (df ≥ stop_frac·n), but the exact groupBy pays for the
    enormous unique *tail* — at 800k pages it hash-aggregated ~160M
    mostly-unique longs (measured 2,070 core-seconds and 1.4 GB of
    spill; random-access hash tables at that size are LLC-bound and
    anti-scale on a shared socket). Corpora above ``sample_docs`` docs
    are therefore profiled on a deterministic 1-in-k url-hash sample
    (``xxhash64(url) % k == 0`` — partitioning-independent, so every
    cluster size profiles the IDENTICAL sample) with the DF threshold
    scaled by the measured sample fraction. A boilerplate shingle at the
    0.5% threshold appears ≥500 times in a 100k-doc sample (σ≈22, 4.5%),
    so threshold-crossing noise touches only statistical-margin shingles;
    corpora at or below ``sample_docs`` (every test fixture and oracle
    scale) profile exhaustively — bit-identical to the unsampled path.
    """
    n = pages.count() if n_docs is None else n_docs  # callers with a committed
    # row count (stage manifests) pass it in — saves a full scan job
    if sample_docs and n > sample_docs:
        k = -(-n // sample_docs)  # ceil → sample size ≤ sample_docs
        pages = pages.where(F.pmod(F.xxhash64(F.col("url")), F.lit(k)) == 0)
        n_s = pages.count()
        thr = max(2, int(min_stop_df * n_s / n), int(stop_frac * n_s))
    else:
        thr = max(min_stop_df, int(stop_frac * n))
    # each projection materializes its array before the next transform
    # references it element-wise (see functions.text docstrings)
    th = pages.select(tokens_expr(F.col("text")).alias("toks")).select(
        token_hashes_expr(F.col("toks")).alias("th")
    )
    return (
        th.select(F.explode(shingle_hashes_from_token_hashes(F.col("th"))).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= thr)
        .select("h", F.hash("h").alias("h32"), "df")
    )


def stop_ids(profile_df: DataFrame) -> tuple[list[int], list[int]]:
    """A stop-shingle profile (``common_shingles``) → (64-bit ids, 32-bit
    ids): the ``h`` ids feed ``block_keys``' JVM-side filter, the ``h32``
    ids scoring's suppression (``page_features``). The profile holds the
    Zipf head only — small by construction, so one bounded collect."""
    rows = profile_df.select("h", "h32").collect()
    return [r["h"] for r in rows], [r["h32"] for r in rows]


def block_keys(
    pages: DataFrame,
    use_domain: bool = True,
    use_lsh: bool = True,
    stop_hashes: list[int] | None = None,
) -> DataFrame:
    """(url, text) → (url, block_key), one row per (page, key).

    ``stop_hashes`` = xxhash64 values of the corpus stop shingles (the
    ``h`` column of ``common_shingles``), excluded JVM-side before the
    signature UDF. Pages with empty/near-empty text get no LSH keys
    (their signatures would all collide into one pathological block —
    SURVEY.md §7.4 item 2); they remain reachable via the domain key.
    A page whose shingles are all stop shingles gets no LSH keys either.
    Shingling, hashing and stop filtering run JVM-side on the same
    tokenizing path as the stop profile (``common_shingles``), so no
    Python-vs-Java lowercase disagreement can leak boilerplate past the
    filter.
    """
    out = None
    if use_domain:
        dom = pages.select(
            "url", F.concat(F.lit(DOMAIN_PREFIX), norm_domain(F.col("url"))).alias("block_key")
        ).where(F.col("block_key").isNotNull())
        out = dom
    if use_lsh:
        sh_h = shingle_hashes_from_token_hashes(F.col("th"))
        if stop_hashes:
            # int64 array literal: 8 bytes per entry in the serialized
            # plan (a Zipf head of thousands stays KB-sized), compared
            # hash-to-hash against the profile's identical combined hash
            sh_h = F.array_except(sh_h, F.lit(sorted(stop_hashes)).cast("array<bigint>"))
        lsh = (
            pages.where(F.length("text") >= 1)
            .select("url", tokens_expr(F.col("text")).alias("toks"))
            .select("url", token_hashes_expr(F.col("toks")).alias("th"))
            .select("url", sh_h.alias("sh_h"))
            # a pandas UDF cannot sit inside a higher-order function, so
            # the signature gets its own column before banding
            .select("url", "sh_h", minhash_sig(F.col("sh_h")).alias("sig"))
            # empty shingle set (all-boilerplate page) → null → no keys.
            # Kept as a projection: a .where(size > 0) here is pushed below
            # the shingle transform and re-inlines th into each get() —
            # O(n²) per page
            .select(
                "url",
                F.explode(
                    F.when(F.size("sh_h") > 0, band_keys_expr(F.col("sig")))
                ).alias("block_key"),
            )
        )
        out = lsh if out is None else out.unionByName(lsh)
    if out is None:
        raise ValueError("at least one key family must be enabled")
    return out
