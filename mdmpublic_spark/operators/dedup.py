"""Deduplication operators for training-data pipelines.

Four families over a document corpus (SURVEY.md §2 + task brief):
  * exact        — hash-groupBy on md5(text): one shuffle, fully native.
  * n-gram/token Jaccard — inverted-index (posting-list) self-join with
    prefix + positional filtering (PPJoin family; see _postings_jaccard),
    fully native Spark (explode → rank by global df order → join on
    prefix tokens → exact verify on candidates). No UDF, whole-stage
    codegen; the pair-generating join touches only each doc's rarest
    (1−t)·m tokens, and DF-capped postings bound the hot-token blowup.
  * MinHash-LSH  — the pipeline's signature kernel and JVM banding
    (functions/hashing.py ``minhash_sig`` → ``band_keys_expr``) over
    the pipeline's hashed shingle ids (or the token set) → band-bucket
    join → exact Jaccard verify on candidates only.
  * SimHash      — 64-bit signature, 4×16-bit band bucketing (any pair
    within Hamming distance 3 shares ≥1 exact band by pigeonhole) →
    popcount verify. Bucket join + bit ops, all native after the
    signature UDF.

Scale notes: every family is (narrow map) → (shuffle on a key) →
(bounded verify). The verify joins carry only ids + signatures, never
full text, and every posting/verify key is xxhash64'd to int64 before
it shuffles — 8 bytes/key instead of raw token/gram/shingle strings
(the dominant byte volume of this family at corpus scale). Posting
lists for ubiquitous tokens are capped (df_cap) with a logged counter —
the same quadratic-skew policy as operators/pairs.py.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window, functions as F

from mdmpublic_spark.functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    band_keys_expr,
    minhash_sig,
    simhash,
)
from mdmpublic_spark.functions.text import (
    shingle_hashes_from_token_hashes,
    token_hashes_expr,
    tokens_expr,
)


def tokenized(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, text) → distinct (id, tok) posting rows, built-ins only."""
    return docs.select(
        id_col, F.explode(F.array_distinct(tokens_expr(F.col("text")))).alias("tok")
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: groups of byte-identical texts → (text_md5, n_docs,
    keep_id) with keep_id = min id (the survivor)."""
    return (
        docs.select(id_col, F.md5(F.col("text")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def _rational(threshold: float) -> Fraction:
    """A decimal threshold as the exact rational p/q (0.6 → 3/5, 0.57 →
    57/100), so inter/union ≥ t is tested as inter·q ≥ p·union on
    integers — no float boundary at any decimal threshold."""
    return Fraction(str(threshold)).limit_denominator(10_000)


def _verify_jaccard(
    cand: DataFrame,
    toks_a: DataFrame,
    toks_b: DataFrame,
    sizes_a: DataFrame,
    sizes_b: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard verify of candidate (id_a, id_b) pairs: the
    intersection over the (id, tok) postings of each side, the (id,
    n_tok) set sizes of each side, and the integer-exact threshold test
    → (id_a, id_b, inter_n, union_n)."""
    p, q = _rational(threshold).as_integer_ratio()
    ja = toks_a.select(F.col(id_col).alias("id_a"), "tok")
    jb = toks_b.select(F.col(id_col).alias("id_b"), "tok")
    sa = sizes_a.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("na"))
    sb = sizes_b.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("nb"))
    inter = (
        cand.join(ja, "id_a")
        .join(jb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter_n"))
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("inter_n"))
        .where(F.col("inter_n") * q >= F.lit(p) * F.col("union_n"))
        .select("id_a", "id_b", "inter_n", "union_n")
    )


def _postings_jaccard(
    toks: DataFrame, threshold: float, id_col: str, df_cap: int
) -> DataFrame:
    """Inverted-list Jaccard self-join over distinct (id, tok) postings,
    with prefix + positional filtering (the PPJoin family: Chaudhuri et
    al. ICDE'06 prefix filter; Xiao et al. WWW'08 positional filter;
    Vernica et al. SIGMOD'10 for the MapReduce formulation this Spark
    plan mirrors).

    Returns (id_a, id_b, inter_n, union_n) for pairs with Jaccard ≥
    threshold. The Jaccard test is done on exact integer counts
    (inter ≥ threshold·union rearranged to avoid float boundaries).
    Tokens with document frequency > df_cap are excluded from the
    *pair-generating* join (quadratic skew guard) but still counted in
    each doc's token count, so the Jaccard denominator stays exact
    only when df_cap covers the corpus — at web scale the cap makes
    this a recall-bounded approximation, logged by the caller.

    Why prefix filtering: the naive inverted-list pair join costs
    Σ_tok df(tok)² shuffle rows — dominated by the *most common*
    joinable tokens. A qualifying pair (Jaccard ≥ t = p/q over
    full sets of sizes na, nb) must share

        inter ≥ α_ab = ⌈p·(na+nb)/(p+q)⌉

    joinable tokens, and since inter ≤ nb it also satisfies the size
    filter q·nb ≥ p·na (symmetrically q·na ≥ p·nb), which makes
    α_a = ⌈p·na/q⌉ a valid per-doc lower bound on the overlap with ANY
    qualifying partner. Ordering every doc's joinable tokens by one
    global (df asc, tok asc) total order, two qualifying docs must then
    share a token inside their first m − α + 1 tokens (m = joinable
    count): if they didn't, all ≥ α_ab common tokens would sit in one
    doc's last α − 1 positions. So the pair-generating join runs over
    *prefixes only* — each doc's (1−t)/(1+0)·m rarest tokens — and the
    Σ df² term collapses to the rare end of the frequency curve (common
    tokens fall out of prefixes entirely). The positional filter
    tightens it further: a match of token c at positions (pos_a, pos_b)
    can witness at most min(m_a−pos_a, m_b−pos_b)+1 common tokens, so
    occurrences with that bound < α_ab generate no candidate. Exact
    verification then recomputes inter_n over the FULL joinable posting
    lists for the surviving candidates only — output is exactly the
    naive join's, row for row (pinned by tests and the DuckDB oracle).

    At 10^12-doc scale this is the difference between shuffling the
    near-quadratic all-shared-token pair stream and shuffling candidate
    prefixes: at the ER threshold (0.95) prefixes are ~5% of postings
    and the quadratic term applies only within near-unique tokens.
    """
    # Hash each token/gram to int64 BEFORE anything shuffles: the posting
    # rows (id, tok) are the dominant byte volume of this family, and a
    # raw 5-40 byte string per posting is pure waste when only equality
    # matters downstream — every groupBy/join here keys on the hash (8
    # bytes, fixed) instead. Distinctness per doc is preserved w.h.p.
    # (xxhash64 collisions at ~10^12 distinct grams: ~10^-7 corpus-wide);
    # counts — and therefore the integer-exact Jaccard test — are
    # unchanged. Same move as the ER scoring path (scoring.py int32
    # feature hashing).
    toks = toks.select(id_col, F.xxhash64("tok").alias("tok"))
    # No .cache() although toks feeds three branches: the posting map is
    # one codegen'd scan-side map (cheap to recompute), while a persisted
    # posting table pins executor memory for the caller's whole session
    # (the leak outweighs the recompute). At warehouse scale, materialize
    # the postings once to a table and point all three branches at it.
    p, q = _rational(threshold).as_integer_ratio()
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    joinable = toks.join(
        F.broadcast(dfreq.where(F.col("df") <= df_cap).where(F.col("df") > 1)),
        "tok",
    ).select(id_col, "tok", "df")

    # Per-doc global-order rank over joinable tokens (df asc, tok asc —
    # rarest first) and joinable count m; one hash shuffle on id, the
    # same key the sizes agg already shuffles on. α is computed in exact
    # integer arithmetic (⌈p·n/q⌉ = (p·n + q − 1) div q): no float
    # boundary can widen or narrow a prefix.
    w_rank = Window.partitionBy(id_col).orderBy("df", "tok")
    w_all = Window.partitionBy(id_col)
    pre = (
        joinable.select(
            id_col,
            "tok",
            F.row_number().over(w_rank).alias("pos"),
            F.count(F.lit(1)).over(w_all).alias("m_tok"),
        )
        .join(sizes, id_col)
        .withColumn("alpha", F.expr(f"(n_tok * {p}L + {q - 1}L) div {q}L"))
        .where(F.col("pos") <= F.col("m_tok") - F.col("alpha") + 1)
        .select(id_col, "tok", "pos", "m_tok", "n_tok")
    )
    pa = pre.select(
        F.col(id_col).alias("id_a"), "tok",
        F.col("pos").alias("pos_a"), F.col("m_tok").alias("ma"),
        F.col("n_tok").alias("na"),
    )
    pb = pre.select(
        F.col(id_col).alias("id_b"), "tok",
        F.col("pos").alias("pos_b"), F.col("m_tok").alias("mb"),
        F.col("n_tok").alias("nb"),
    )
    # Pair-generating join on PREFIX tokens only, with the size filter
    # (q·nb ≥ p·na ∧ q·na ≥ p·nb — both implied by Jaccard ≥ p/q) and
    # the positional filter: an occurrence at (pos_a, pos_b) can witness
    # at most min(ma−pos_a, mb−pos_b)+1 common tokens; if that is below
    # the pairwise requirement α_ab = ⌈p(na+nb)/(p+q)⌉ the occurrence
    # cannot come from a qualifying pair. A qualifying pair's FIRST
    # common token always survives both filters, so distinct() over
    # surviving occurrences loses no pair.
    alpha_ab = F.expr(f"((na + nb) * {p}L + {p + q - 1}L) div {p + q}L")
    cand = (
        pa.join(pb, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .where((F.col("nb") * q >= F.col("na") * p) & (F.col("na") * q >= F.col("nb") * p))
        .where(
            F.least(F.col("ma") - F.col("pos_a"), F.col("mb") - F.col("pos_b")) + 1
            >= alpha_ab
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Exact verify on candidates only: recompute the full joinable
    # intersection (same token set the naive join counted), then the
    # integer-exact threshold test — output is identical to the
    # unfiltered inverted-list join.
    return _verify_jaccard(cand, joinable, joinable, sizes, sizes, id_col, threshold)


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    df_cap: int = 10000,
) -> DataFrame:
    """Token-set Jaccard similarity self-join via inverted lists
    (see _postings_jaccard for semantics and the df_cap skew guard)."""
    return _postings_jaccard(tokenized(docs, id_col), threshold, id_col, df_cap)


def charngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    df_cap: int = 10000,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs via the same inverted-list
    join as token Jaccard — the word-boundary-agnostic dedup family
    (catches near-dups that tokenization hides: joined/split words,
    punctuation-only edits, small in-word typos).

    Grams are sliding windows of ``n`` characters over lower(text)
    (spaces included — they carry word-boundary signal); texts shorter
    than ``n`` contribute their whole text as the single gram so short
    exact dups still pair. Gram extraction is a native substr transform
    over a sequence — whole-stage codegen, no UDF; everything downstream
    is the shared posting-list machinery, so the 100 TB story (shuffle
    on xxhash64(gram) int64 keys, df-capped hot grams, ids-only pair
    join) is identical to token Jaccard. Char n-grams are denser per doc
    than tokens (~1 gram per char), so at scale prefer a larger ``n``;
    the gram→int64 hashing in _postings_jaccard already keeps the
    posting shuffle at 8 bytes/key regardless of gram width.
    """
    txt = F.lower(F.col("text"))
    length = F.length(txt)
    grams = (
        F.when(
            length >= n,
            F.transform(
                F.sequence(F.lit(1), length - (n - 1)),
                lambda i: txt.substr(i, F.lit(n)),
            ),
        )
        .when(length > 0, F.array(txt))
        .otherwise(F.array().cast("array<string>"))
    )
    postings = docs.select(
        id_col, F.explode(F.array_distinct(grams)).alias("tok")
    )
    return _postings_jaccard(postings, threshold, id_col, df_cap)


def cross_jaccard_pairs(
    a_docs: DataFrame,
    b_docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    df_cap: int = 10000,
) -> DataFrame:
    """Cross-SOURCE Jaccard linkage join (R-S, not self): match every
    document of ``a_docs`` (staging) against ``b_docs`` (master) at
    token-Jaccard ≥ threshold — the MDM staging→master promotion match
    (/root/reference MDM lifecycle, SURVEY.md §3.4: new records are
    matched against the master bucket via the candidate index, then
    merged/promoted), expressed as the two-relation variant of
    _postings_jaccard's prefix+positional-filtered inverted-list join.

    Differences from the self-join:
      * postings carry a side tag; the pair-generating join runs
        A-prefixes × B-prefixes only (no same-side pairs generated);
      * the global token order ranks by COMBINED (both-side) document
        frequency — any total order shared by both docs keeps the
        prefix bound valid — and a token is joinable only if it occurs
        on BOTH sides (a one-side token can never witness a cross
        intersection, so dropping it shrinks prefixes at zero recall
        cost — the R-S analog of the self-join's df > 1 filter);
      * no id ordering: ids may overlap between sides (same url in
        staging and master), so all internal joins key on (side, id)
        and the output is (id_a = staging id, id_b = master id).

    Jaccard denominators use each doc's FULL distinct-token count (not
    just joinable tokens), identical to the self-join; tokens above
    df_cap (combined df) are excluded from candidates AND verify — the
    same logged recall-bounded skew guard. Output: (id_a, id_b,
    inter_n, union_n) for cross pairs at Jaccard ≥ threshold, exactly
    equal to the naive A×B inverted-list join (DuckDB oracle:
    queries/er_documents.LINK_SOURCES_ORACLE).
    """
    p, q = _rational(threshold).as_integer_ratio()
    toks = (
        tokenized(a_docs, id_col).withColumn("side", F.lit(0))
        .unionByName(tokenized(b_docs, id_col).withColumn("side", F.lit(1)))
        .select("side", id_col, F.xxhash64("tok").alias("tok"))
    )
    sizes = toks.groupBy("side", id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    dfreq = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("df_a"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("df_b"),
    )
    joinable = toks.join(
        F.broadcast(
            dfreq.where(
                (F.col("df_a") >= 1)
                & (F.col("df_b") >= 1)
                & (F.col("df_a") + F.col("df_b") <= df_cap)
            ).select("tok", (F.col("df_a") + F.col("df_b")).alias("df"))
        ),
        "tok",
    ).select("side", id_col, "tok", "df")

    w_rank = Window.partitionBy("side", id_col).orderBy("df", "tok")
    w_all = Window.partitionBy("side", id_col)
    pre = (
        joinable.select(
            "side",
            id_col,
            "tok",
            F.row_number().over(w_rank).alias("pos"),
            F.count(F.lit(1)).over(w_all).alias("m_tok"),
        )
        .join(sizes, ["side", id_col])
        .withColumn("alpha", F.expr(f"(n_tok * {p}L + {q - 1}L) div {q}L"))
        .where(F.col("pos") <= F.col("m_tok") - F.col("alpha") + 1)
        .select("side", id_col, "tok", "pos", "m_tok", "n_tok")
    )
    pa = pre.where(F.col("side") == 0).select(
        F.col(id_col).alias("id_a"), "tok",
        F.col("pos").alias("pos_a"), F.col("m_tok").alias("ma"),
        F.col("n_tok").alias("na"),
    )
    pb = pre.where(F.col("side") == 1).select(
        F.col(id_col).alias("id_b"), "tok",
        F.col("pos").alias("pos_b"), F.col("m_tok").alias("mb"),
        F.col("n_tok").alias("nb"),
    )
    alpha_ab = F.expr(f"((na + nb) * {p}L + {p + q - 1}L) div {p + q}L")
    cand = (
        pa.join(pb, "tok")
        .where((F.col("nb") * q >= F.col("na") * p) & (F.col("na") * q >= F.col("nb") * p))
        .where(
            F.least(F.col("ma") - F.col("pos_a"), F.col("mb") - F.col("pos_b")) + 1
            >= alpha_ab
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a_side, b_side = F.col("side") == 0, F.col("side") == 1
    return _verify_jaccard(
        cand,
        joinable.where(a_side),
        joinable.where(b_side),
        sizes.where(a_side),
        sizes.where(b_side),
        id_col,
        threshold,
    )


def fingerprint_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    id_col: str = "doc_id",
    df_cap: int = 10000,
) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (the MOSS/copy-detection
    family): documents sharing ≥ ``min_shared`` of their rolling-hash
    sketch fingerprints (textstats.doc_fingerprints — 4 smallest FNV
    window hashes per doc).

    The sketch is O(1) per document regardless of length, so the
    pair-generating join shuffles 4 int64 rows per doc — the cheapest
    candidate generator in the dedup family and the natural first pass
    at 10^12-doc scale. Same inverted-list shape as the Jaccard
    variants: join on fp, df-capped hot fingerprints (a boilerplate
    window shared by the whole corpus would otherwise join
    quadratically), ids-only pair aggregation.
    """
    from mdmpublic_spark.operators.textstats import doc_fingerprints

    fps = doc_fingerprints(docs, id_col).select(id_col, "fp").distinct()
    dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    joinable = fps.join(
        F.broadcast(dfreq.where(F.col("df") <= df_cap).where(F.col("df") > 1)),
        "fp",
    ).select(id_col, "fp")
    a = joinable.select(F.col(id_col).alias("id_a"), "fp")
    b = joinable.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def _token_hashes(docs: DataFrame, id_col: str) -> DataFrame:
    """(id, text) → (id, th): each doc's token hashes, materialized as a
    plain column for ``shingle_hashes_from_token_hashes`` — the pipeline's
    shingle identity. Callers apply that expression directly inside
    ``explode``/``minhash_sig``, never via a projected attribute: Spark
    infers ``size(a) > 0`` for ``explode(<attribute>)`` and pushes that
    Filter below the projections, re-inlining ``th`` into every get() of
    the shingle transform — O(n²) per doc."""
    return docs.select(id_col, tokens_expr(F.col("text")).alias("toks")).select(
        id_col, token_hashes_expr(F.col("toks")).alias("th")
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = LSH_BANDS,
    n_rows: int = LSH_ROWS,
    sketch: str = "shingle",
) -> DataFrame:
    """CANDIDATE pairs of the MinHash-LSH pass — band-bucket self-join
    only, no exact verify: distinct (id_a, id_b) with id_a < id_b for
    every pair sharing ≥1 band key. The ids-only shape is what recall
    measurement and downstream blocking need (a pair at Jaccard ≥ any
    verify threshold always survives verification, so truth∩candidates
    IS truth∩emitted — bench.py's recall gate semi-joins against this
    instead of paying the posting-list verify join).

    ``sketch``: ``"shingle"`` (3-word shingle ids, order-sensitive) or
    ``"token"`` (distinct-token set, order-insensitive — catches
    word-reordered duplicates). Either set is xxhash64'd JVM-side, so the
    signature UDF's Arrow crossing carries only int64 arrays."""
    if sketch == "token":
        sigs = docs.select(
            id_col,
            minhash_sig(
                F.transform(
                    F.array_distinct(tokens_expr(F.col("text"))),
                    lambda t: F.xxhash64(t),
                )
            ).alias("sig"),
        )
    else:
        sigs = _token_hashes(docs, id_col).select(
            id_col, minhash_sig(shingle_hashes_from_token_hashes(F.col("th"))).alias("sig")
        )
    # one exchange (AQE-sized) feeds both join sides: the signature UDF runs once
    banded = sigs.select(
        id_col, F.explode(band_keys_expr(F.col("sig"), n_bands, n_rows)).alias("band")
    ).repartition("band")
    return (
        banded.alias("x")
        .join(banded.alias("y"), "band")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    n_bands: int = LSH_BANDS,
    n_rows: int = LSH_ROWS,
    verify: str = "token",
    sketch: str = "shingle",
) -> DataFrame:
    """MinHash-LSH candidate pairs verified by an exact Jaccard join.

    sketch set → 64-perm signature → band keys (JVM-side banding over the
    signature array) → bucket self-join → verify candidates with one
    posting-list join restricted to the candidate set (semi-join
    pushdown).

    ``sketch`` picks the set the MinHash signature estimates — i.e. what
    the CANDIDATE pass can see:
      * ``"shingle"`` — 3-word shingle ids (default): word-ORDER-sensitive,
        the classic web near-dup sketch. Structurally blind to
        bag-of-words-identical documents with reordered words (their
        shingle Jaccard is ~0 even though token Jaccard is 1) — a gap
        the round-4 recall gate measured at 0.11% recall of the exact
        token-Jaccard ≥ 0.95 edge set on the shuffled-word-order
        duplicate family.
      * ``"token"``   — the distinct-token SET: order-INSENSITIVE, so
        reordered duplicates band-match.
    Both sets reach the one ``minhash_sig`` kernel as JVM-hashed int64
    arrays — no per-token or per-shingle string crosses into Python.
    Run both sketches and union the pair sets for an order-robust
    near-dup pass; each is one narrow map + one bucket join, so the
    second pass adds linear work, never quadratic.

    ``verify`` picks the exact similarity that gates emission:
      * ``"token"``   — token-set Jaccard (default; matches the pipeline's
        cheap-first cascade semantics).
      * ``"shingle"`` — 3-word-shingle Jaccard, i.e. the set the default
        sketch estimates. With ``n_rows=1, n_bands=64`` and
        ``verify == sketch`` the miss probability for a pair at Jaccard
        ≥ t is (1-t)^64 (< 10^-19 at t ≥ 0.5), so the output equals the
        exact Jaccard join over the sketched set for practical purposes —
        this is the oracle-checkable recall-1 configuration
        (queries/training_data.py uses it for BOTH sketches).
    """
    cand = minhash_lsh_candidates(docs, id_col, n_bands, n_rows, sketch)
    # exact verify on candidates only, keyed on int64 for the same
    # shuffle-byte reason as _postings_jaccard. The shingle postings are
    # the very ids the shingle sketch signs, so sketch and verify count
    # one set.
    if verify == "shingle":
        toks = _token_hashes(docs, id_col).select(
            id_col, F.explode(shingle_hashes_from_token_hashes(F.col("th"))).alias("tok")
        )
    else:
        toks = tokenized(docs, id_col).select(id_col, F.xxhash64("tok").alias("tok"))
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    return _verify_jaccard(cand, toks, toks, sizes, sizes, id_col, threshold)


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, 4×16-bit band buckets
    (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands identical),
    verified with a native popcount (bit_count(xor)).

    Completeness makes this oracle-checkable: the output is EXACTLY the
    set of pairs at hamming ≤ max_hamming (≤ 3 with 4 bands), so a SQL
    engine that recomputes the signatures (JVM tokenizer parity + the
    sha256-folded token hash, functions/hashing.simhash64) and runs the
    all-pairs popcount join gets the identical result set.

    Tokens come from the JVM tokenizer (``tokens_expr``) — the single
    Python crossing is the signature UDF, and tokenization is locale-free
    and byte-identical to the SQL ``string_split_regex`` oracle form."""
    sigs = docs.select(id_col, simhash(tokens_expr(F.col("text"))).alias("sh"))
    bands = sigs.select(
        id_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        F.shiftrightunsigned(F.col("sh"), i * 16).bitwiseAND(F.lit(0xFFFF)),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bucket"),
    ).repartition("bucket")  # one shared exchange, as in minhash_lsh_candidates
    x = bands.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"), "bucket")
    y = bands.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"), "bucket")
    return (
        x.join(y, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        # coalesced: a null-intolerant test would infer isnotnull(sh) and
        # push it below the UDF projection, evaluating the UDF twice
        .where(F.coalesce("hamming", F.lit(64)) <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
