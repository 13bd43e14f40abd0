"""Unit tests for the training-data operators (dedup / simsearch /
textstats / multimodal) beyond the DuckDB parity gate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mdmpublic_spark.operators import dedup, multimodal, simsearch

SF_DIR = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"


@pytest.fixture(scope="module")
def vecs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .cache()
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def test_lsh_ann_recall_vs_brute_force(spark, vecs):
    """LSH ANN must recover most true top-5 neighbors (recall ≥ 0.7 with
    8 tables × 3 planes on the 64-dim fixtures)."""
    queries = vecs.where(F.col("vec_id") < 10)
    truth = simsearch.brute_force_topk(vecs, queries, k=5).collect()
    approx = simsearch.lsh_ann_topk(vecs, queries, dim=64, k=5).collect()
    truth_set = {(r["query_id"], r["neighbor_id"]) for r in truth}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(truth_set & approx_set) / len(truth_set)
    assert recall >= 0.7, f"ANN recall {recall}"


def test_lsh_ann_deterministic(spark, vecs):
    queries = vecs.where(F.col("vec_id") < 5)
    a = sorted(map(tuple, simsearch.lsh_ann_topk(vecs, queries, dim=64, k=3)
                   .select("query_id", "neighbor_id", "rank").collect()))
    b = sorted(map(tuple, simsearch.lsh_ann_topk(vecs, queries, dim=64, k=3)
                   .select("query_id", "neighbor_id", "rank").collect()))
    assert a == b


def test_ivf_full_probe_equals_brute_force(spark, vecs):
    """Probing every cell (n_probe == n_centroids) makes IVF exact: the
    result must equal brute_force_topk row for row."""
    queries = vecs.where(F.col("vec_id") < 10)
    truth = sorted(
        map(tuple, simsearch.brute_force_topk(vecs, queries, k=5).collect())
    )
    full = sorted(
        map(
            tuple,
            simsearch.ivf_ann_topk(
                vecs, queries, k=5, n_centroids=8, n_probe=8
            ).collect(),
        )
    )
    assert full == truth


def test_ivf_partial_probe_recall_and_determinism(spark, vecs):
    """With n_probe < n_centroids, IVF skips cells but must keep useful
    recall on the fixtures, and be bit-stable across runs."""
    queries = vecs.where(F.col("vec_id") < 10)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in simsearch.brute_force_topk(vecs, queries, k=5).collect()
    }
    run = lambda: sorted(  # noqa: E731
        map(
            tuple,
            simsearch.ivf_ann_topk(
                vecs, queries, k=5, n_centroids=16, n_probe=6
            ).collect(),
        )
    )
    a = run()
    recall = len({(q, n) for q, n, _ in a} & truth) / len(truth)
    assert recall >= 0.5, f"IVF recall {recall}"
    assert a == run()


def test_ivf_centroids_deterministic_sample(spark, vecs):
    """Centroids are a hash sample: same set at any parallelism, dense
    0..n-1 ids, vectors drawn from the corpus itself."""
    c1 = {
        r["centroid_id"]: tuple(r["cvec"])
        for r in simsearch.ivf_centroids(vecs, 8).collect()
    }
    c2 = {
        r["centroid_id"]: tuple(r["cvec"])
        for r in simsearch.ivf_centroids(vecs.repartition(7), 8).collect()
    }
    assert c1 == c2
    assert sorted(c1) == list(range(8))
    corpus_vecs = {tuple(r["embedding"]) for r in vecs.collect()}
    assert set(c1.values()) <= corpus_vecs


def test_simhash_bucket_completeness(spark, docs):
    """Pigeonhole guarantee: every pair within hamming ≤ 3 must be found
    by the 4-band bucketing — verify against an exhaustive small join."""
    sample = docs.where(F.col("doc_id") < 120)
    from mdmpublic_spark.functions.hashing import simhash
    from mdmpublic_spark.functions.text import tokens_expr

    sigs = sample.select(
        "doc_id", simhash(tokens_expr(F.col("text"))).alias("sh")
    ).collect()
    exhaustive = set()
    for i, a in enumerate(sigs):
        for b in sigs[i + 1 :]:
            h = bin((a["sh"] ^ b["sh"]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                key = (min(a["doc_id"], b["doc_id"]), max(a["doc_id"], b["doc_id"]))
                exhaustive.add(key)
    found = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_pairs(sample, max_hamming=3).collect()
    }
    assert exhaustive == found


def test_minhash_pairs_verified_jaccard(spark, docs):
    """Every emitted MinHash-LSH pair must satisfy the exact-Jaccard
    verification threshold it claims."""
    rows = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    for r in rows:
        assert r["inter_n"] * 100 >= 50 * r["union_n"]


def test_minhash_pairs_threshold_is_exact(spark):
    """The verify threshold is the exact rational p/q: a token-Jaccard
    14/25 = 0.56 pair is emitted at 0.56 and not at 0.57 (a threshold
    truncated to int(0.57 * 100) == 56 percent would let it through)."""
    shared = [f"s{i}" for i in range(14)]
    df = spark.createDataFrame(
        [
            (1, " ".join(shared + [f"a{i}" for i in range(6)])),  # 20 tokens
            (2, " ".join(shared + [f"b{i}" for i in range(5)])),  # 19 tokens
        ],
        "doc_id long, text string",
    )

    def pairs(t):
        rows = dedup.minhash_lsh_pairs(
            df, threshold=t, n_bands=64, n_rows=1, sketch="token", verify="token"
        ).collect()
        return {(r["id_a"], r["id_b"], r["inter_n"], r["union_n"]) for r in rows}

    assert pairs(0.56) == {(1, 2, 14, 25)}
    assert pairs(0.57) == set()


def test_token_sketch_catches_word_reordered_dups(spark):
    """The round-5 order-insensitive arm: a bag-of-words-identical pair
    with shuffled word order has shingle-Jaccard ~0 (no shared 3-word
    shingle) but token-Jaccard 1 — the shingle sketch must miss it even
    at the recall-1 banding, and the token sketch must catch it."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "theta eta zeta epsilon delta gamma beta alpha"),  # reversed
            (3, "completely different words about other topics entirely here"),
            (4, "yet another unrelated document body with fresh vocabulary"),
        ],
        "doc_id long, text string",
    )
    shingle_cands = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            df, n_bands=64, n_rows=1, sketch="shingle"
        ).collect()
    }
    token_cands = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_candidates(
            df, n_bands=8, n_rows=8, sketch="token"
        ).collect()
    }
    assert (1, 2) not in shingle_cands  # no shared shingle → no shared minhash
    assert (1, 2) in token_cands  # identical token set → every band matches
    # and the full verified operator emits it with an exact J=1 witness
    verified = {
        (r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
        for r in dedup.minhash_lsh_pairs(
            df, threshold=0.9, n_bands=8, n_rows=8, sketch="token", verify="token"
        ).collect()
    }
    assert verified[(1, 2)][0] == verified[(1, 2)][1] == 8


def _assert_recall1_equals_bruteforce(docs, arm):
    """At the recall-1 banding (64×1) the sketch arm's output (sketch =
    verify = ``arm``) must equal the exact Jaccard ≥ 0.5 join over its
    set, row for row — the contract the DuckDB oracle pins at sf0.01,
    checked here against an independent in-test brute force over the
    whole fixture (no doc below id 60 has a shingle partner at 0.5)."""
    import re

    sample = docs.select("doc_id", "text")

    def shingles(toks):
        if len(toks) < 3:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {}
    for r in sample.collect():
        toks = [t for t in re.split(r"[^a-z0-9]+", (r["text"] or "").lower()) if t]
        sets[r["doc_id"]] = set(toks) if arm == "token" else shingles(toks)
    ids = sorted(sets)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter * 100 >= 50 * union:
                expected[(a, b)] = (inter, union)
    got = {
        (r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
        for r in dedup.minhash_lsh_pairs(
            sample, threshold=0.5, n_bands=64, n_rows=1, sketch=arm, verify=arm
        ).collect()
    }
    assert expected and got == expected


def test_minhash_token_recall1_equals_bruteforce(spark, docs):
    _assert_recall1_equals_bruteforce(docs, "token")


def test_minhash_shingle_recall1_equals_bruteforce(spark, docs):
    """The shingle arm's reference builds *string* 3-word shingles (the
    whole token stream when shorter), so it checks the hashed shingle
    identity the operator uses against plain text."""
    _assert_recall1_equals_bruteforce(docs, "shingle")


def test_exact_dedup_counts(spark, docs):
    out = dedup.exact_duplicates(docs)
    total = out.agg(F.sum("n_docs")).first()[0]
    assert total == docs.count()


def test_multimodal_checksum_and_features(spark, docs):
    media = multimodal.as_media(
        docs.select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload")).limit(50),
        "doc_id", "payload", kind="image", mime="text/plain",
    )
    rows = media.collect()
    for r in rows[:10]:
        assert r["sha256"] == multimodal.payload_checksum_py(bytes(r["payload"]))
        assert r["n_bytes"] == len(bytes(r["payload"]))
    feats = multimodal.extract_features(media, dim=16).collect()
    assert len(feats) == len(rows)
    for f in feats[:10]:
        assert len(f["feature"]) == 16
        assert abs(sum(f["feature"]) - 1.0) < 1e-3  # normalized histogram
    # deterministic across runs
    feats2 = multimodal.extract_features(media, dim=16).collect()
    assert sorted(map(lambda r: (r["media_id"], tuple(r["feature"])), feats)) == sorted(
        map(lambda r: (r["media_id"], tuple(r["feature"])), feats2)
    )


def test_block_pair_scores_grouped_map(spark):
    """applyInPandas block scorer: exact pair set + Jaccard on a tiny
    hand-checked corpus; oversize blocks are dropped, never scored."""
    from mdmpublic_spark.operators.groupscore import block_pair_scores

    rows = [
        (1, "a b c", 0),
        (2, "a b d", 0),
        (3, "x y", 0),
        (4, "big block", 1),
        (5, "big block", 1),
        (6, "big block", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, block int")
    out = {
        (r["id_a"], r["id_b"]): (r["block"], r["jac"])
        for r in block_pair_scores(df, max_block=2).collect()
    }
    # block 0 has 3 docs > max_block=2 -> dropped; block 1 same
    assert out == {}
    out = {
        (r["id_a"], r["id_b"]): (r["block"], round(r["jac"], 6))
        for r in block_pair_scores(df, max_block=10).collect()
    }
    assert out[(1, 2)] == (0, 0.5)  # {a,b,c} vs {a,b,d}: 2/4
    assert out[(1, 3)] == (0, 0.0)
    assert out[(4, 5)] == (1, 1.0)
    assert len(out) == 6  # C(3,2) per block x 2 blocks


def test_embedding_near_dup_finds_planted_pairs(spark):
    """Planted near-duplicates (cosine ≥ 0.999 perturbations) must all be
    recovered by the hyperplane-bucketed path, with zero false positives
    and NO cartesian product anywhere in the physical plan."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:  # plant a near-dup twin: tiny perturbation
            twin = v + rng.normal(scale=1e-3, size=64)
            rows.append((1000 + i, [float(x) for x in twin]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = simsearch.embedding_near_dup_pairs(
        df, threshold=0.99, dim=64, n_planes=4, n_tables=8
    )
    assert "CartesianProduct" not in out._jdf.queryExecution().executedPlan().toString()
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    want = {(i, 1000 + i) for i in range(0, 40, 4)}
    assert got == want


def test_charngram_jaccard_exact_on_tiny_corpus(spark):
    """Char-5-gram Jaccard vs a pure-Python reference on a corpus
    engineered so tokenization hides the near-dup (joined words) but
    char grams catch it; includes a short-text (<5 chars) doc."""
    texts = {
        1: "the quick brown fox jumps",
        2: "thequick brown fox jumps",  # joined words: token sets differ
        3: "lazy dogs sleep all day long",
        4: "cat",  # shorter than n: whole text is the single gram
        5: "cat",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"])
        for r in dedup.charngram_jaccard_pairs(df, n=5, threshold=0.5).collect()
    }

    def grams(t):
        t = t.lower()
        return {t[i : i + 5] for i in range(len(t) - 4)} if len(t) >= 5 else {t}

    expected = {}
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ga, gb = grams(texts[a]), grams(texts[b])
            inter, union = len(ga & gb), len(ga | gb)
            if inter * 10 >= 5 * union:
                expected[(a, b)] = (inter, union)
    assert got == expected
    assert (1, 2) in got  # joined-word near-dup caught
    assert (4, 5) in got  # short exact dup caught via whole-text gram


def test_token_stats_bpe_pieces(spark):
    """BPE-ish piece count: letter runs, digit runs, punctuation runs."""
    from mdmpublic_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, "Hello, world!! v2.0 costs $15"), (2, ""), (3, "abc")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in textstats.token_stats(df).collect()}
    # hello | , | world | !! | v | 2 | . | 0 | costs | $ | 15  -> 11
    assert rows[1]["n_bpe_pieces"] == 11
    assert rows[2]["n_bpe_pieces"] == 0
    assert rows[3]["n_bpe_pieces"] == 1


def test_fingerprint_pairs_planted_near_dups(spark):
    """Docs sharing a long identical region share rolling-hash window
    fingerprints; unrelated docs share none. min_shared=2 of the 4-value
    sketch pairs only the planted near-dups."""
    base = "the winnowing fingerprint sketch keeps the smallest window hashes of a document"
    rows = [
        (1, base + " tail one"),
        (2, base + " different tail entirely"),  # same long prefix as 1
        (3, "完全 unrelated content with nothing in common at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in dedup.fingerprint_pairs(df, min_shared=2).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] >= 2


def test_resize_media_deterministic_and_consistent(spark, docs):
    """resize_media rewrites payloads to ≤ target bytes with recomputed
    size/checksum; short payloads pass through byte-identical; output is
    deterministic across runs."""
    media = multimodal.as_media(
        docs.limit(40).select("doc_id", F.encode(F.col("text"), "utf-8").alias("p")),
        "doc_id", "p", kind="image", mime="text/plain",
    )
    out1 = {r["media_id"]: r for r in multimodal.resize_media(media, 256).collect()}
    out2 = {r["media_id"]: r for r in multimodal.resize_media(media, 256).collect()}
    orig = {r["media_id"]: r for r in media.collect()}
    assert out1.keys() == orig.keys()
    for mid, r in out1.items():
        assert r["n_bytes"] == len(r["payload"]) <= 256
        assert r["sha256"] == multimodal.payload_checksum_py(bytes(r["payload"]))
        if orig[mid]["n_bytes"] <= 256:
            assert bytes(r["payload"]) == bytes(orig[mid]["payload"])
        assert bytes(r["payload"]) == bytes(out2[mid]["payload"])  # deterministic


def test_jw_quantization_cross_engine_exact(spark):
    """sc_jaro_winkler hashes floor(jw*1e6)::bigint on both engines; the
    two engines' jaro doubles can differ by 1 ulp, and real corpus pairs
    DO land exactly on bucket boundaries (jw = 0.7 exactly occurs), so a
    distance-to-boundary argument cannot certify stability. Certify it
    directly instead: for EVERY adjacent pair in sf0.001 + sf0.01 (the
    driver's gate corpus), the Python-UDF quantized value must equal the
    DuckDB composed-formula quantized value bit-for-bit."""
    import duckdb
    import math

    from mdmpublic_spark.queries.training_data import _adjacent_pairs
    from mdmpublic_spark.functions.similarity import jaro_winkler

    con = duckdb.connect()
    base = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
    checked = 0
    for sf in ("sf0.001", "sf0.01"):
        pdf = (
            _adjacent_pairs(spark, f"{base}/{sf}", 40, drop_empty=True)
            .select("t_a", "t_b")
            .toPandas()
        )
        con.register("pairs", pdf)
        duck = con.execute(
            """
            SELECT CAST(floor((CASE WHEN t_a = t_b THEN 1.0
                     ELSE j + pfx * 0.1 * (1.0 - j) END) * 1e6) AS BIGINT)
            FROM (SELECT t_a, t_b, jaro_similarity(t_a, t_b) AS j,
                   (CASE WHEN substr(t_a,1,1) != substr(t_b,1,1) THEN 0
                         WHEN substr(t_a,2,1) != substr(t_b,2,1) OR substr(t_a,2,1) = '' THEN 1
                         WHEN substr(t_a,3,1) != substr(t_b,3,1) OR substr(t_a,3,1) = '' THEN 2
                         WHEN substr(t_a,4,1) != substr(t_b,4,1) OR substr(t_a,4,1) = '' THEN 3
                         ELSE 4 END) AS pfx
                  FROM pairs) t
            """
        ).fetchnumpy()
        duck_q = list(duck[list(duck.keys())[0]])
        con.unregister("pairs")
        for (a, b), dq in zip(zip(pdf["t_a"], pdf["t_b"]), duck_q):
            py_q = math.floor((1.0 if a == b else jaro_winkler(a, b)) * 1e6)
            assert py_q == int(dq), (a[:20], b[:20], py_q, int(dq))
            checked += 1
    assert checked > 400  # both corpora actually compared


def test_jaccard_threshold_exact_at_two_decimals(spark):
    """The rational threshold (19/20 for 0.95) must include J == 0.95
    exactly and exclude anything below — no float boundary drift."""
    a_toks = " ".join(f"t{i:02d}" for i in range(20))          # 20 tokens
    b_toks = " ".join(f"t{i:02d}" for i in range(19))          # 19 of them
    c_toks = " ".join(f"t{i:02d}" for i in range(18)) + " zz"  # 18 + 1 new
    df = spark.createDataFrame(
        [(1, a_toks), (2, b_toks), (3, c_toks)], "doc_id long, text string"
    )
    pairs = dedup.token_jaccard_pairs(df, threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]): (r["inter_n"], r["union_n"]) for r in pairs}
    # J(a,b) = 19/20 = 0.95 exactly -> kept; J(a,c) = 18/21, J(b,c) = 18/20 -> dropped
    assert got == {(1, 2): (19, 20)}


def test_cc_jaccard_clusters_invariants(spark):
    from mdmpublic_spark.queries.er_documents import cc_jaccard_clusters

    sf_dir = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001"
    assign = cc_jaccard_clusters(spark, sf_dir).collect()
    by_cluster: dict[int, list[int]] = {}
    for r in assign:
        by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    assert len(assign) > 0
    for cid, members in by_cluster.items():
        # representative is the min member id and belongs to the cluster
        assert cid == min(members)
        # components are non-trivial (every assigned node touched an edge)
        assert len(members) >= 2


def test_group_median_matches_pandas(spark):
    import pandas as pd

    from mdmpublic_spark.operators.textstats import group_median

    rows = [
        ("a", 1), ("a", 2), ("a", 3),            # odd group -> 2.0
        ("b", 10), ("b", 20),                    # even group -> 15.0
        ("c", 7), ("c", 8), ("c", 9), ("c", 100) # even, .5 midpoint -> 8.5
    ]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    got = {
        r["source"]: (r["median_n_chars"], r["n_rows"])
        for r in group_median(df, "source", "n_chars").collect()
    }
    exp = pd.DataFrame(rows, columns=["source", "n_chars"]).groupby("source")
    for src, grp in exp:
        assert got[src] == (float(grp["n_chars"].median()), len(grp))


def test_jw_batch_equals_scalar():
    """jaro_winkler_batch must be bit-identical to the scalar on random
    strings (incl. empties, equal strings, transposition-heavy cases)."""
    import random

    from mdmpublic_spark.functions.similarity import jaro_winkler, jaro_winkler_batch

    rng = random.Random(1234)
    alpha = "abcde _-:/é漢"
    cases = [("", ""), ("a", ""), ("", "b"), ("abc", "abc"),
             ("martha", "marhta"), ("dixon", "dicksonx"), ("crate", "trace")]
    for _ in range(4000):
        la, lb = rng.randrange(0, 40), rng.randrange(0, 40)
        cases.append((
            "".join(rng.choice(alpha) for _ in range(la)),
            "".join(rng.choice(alpha) for _ in range(lb)),
        ))
    got = jaro_winkler_batch([a for a, _ in cases], [b for _, b in cases])
    for (a, b), g in zip(cases, got):
        assert g == jaro_winkler(a, b), (a, b)


def test_blocking_profile_approx_distinct_within_5pct(spark):
    """b1_blocking_profile uses exact countDistinct so its DuckDB oracle
    hash-matches; the documented 100 TB swap is approx_count_distinct
    (HLL sketch, rsd=0.02 — no exact-distinct shuffle). Pin the approx
    variant within 5% of exact per blocking key so the swap is a
    measured claim, not a hope."""
    import os

    from pyspark.sql import functions as F

    sf_dir = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.01"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    both = docs.groupBy("source").agg(
        F.countDistinct(F.md5(F.col("text"))).alias("exact"),
        F.approx_count_distinct(F.md5(F.col("text")), rsd=0.02).alias("approx"),
    )
    for r in both.collect():
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), (
            r["source"], r["exact"], r["approx"]
        )


def test_prefix_filtered_jaccard_equals_bruteforce(spark):
    """The prefix/positional-filtered inverted-list join (PPJoin family)
    must return EXACTLY the naive all-shared-token join's pairs — same
    ids, same inter/union counts — at every threshold. Brute-force
    oracle computed in Python over the same tokenization + df-cap
    semantics (tokens with df>cap or df==1 excluded from intersection,
    full distinct-token counts in the denominator)."""
    import random
    import re

    from mdmpublic_spark.operators import dedup

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(120):
        base = rng.sample(vocab, rng.randrange(3, 14))
        docs.append((i, " ".join(base)))
        if rng.random() < 0.5:  # planted near-dup: drop/add one token
            mut = list(base)
            if rng.random() < 0.5 and len(mut) > 2:
                mut.pop(rng.randrange(len(mut)))
            else:
                mut.append(rng.choice(vocab))
            docs.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def toks(text):
        return {t for t in re.split("[^a-z0-9]+", text.lower()) if t}

    for threshold, df_cap in ((0.5, 10000), (0.6, 10000), (0.8, 10000), (0.6, 20)):
        from collections import Counter
        from fractions import Fraction

        tsets = {i: toks(t) for i, t in docs}
        dfreq = Counter(t for s in tsets.values() for t in s)
        joinable = {t for t, c in dfreq.items() if 1 < c <= df_cap}
        frac = Fraction(str(threshold)).limit_denominator(10_000)
        expect = set()
        ids = sorted(tsets)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(tsets[a] & tsets[b] & joinable)
                union = len(tsets[a]) + len(tsets[b]) - inter
                if inter * frac.denominator >= frac.numerator * union:
                    expect.add((a, b, inter, union))
        got = {
            (r["id_a"], r["id_b"], r["inter_n"], r["union_n"])
            for r in dedup.token_jaccard_pairs(
                df, threshold=threshold, df_cap=df_cap
            ).collect()
        }
        assert got == expect, (threshold, df_cap,
                               sorted(expect - got)[:5], sorted(got - expect)[:5])


def test_cross_jaccard_equals_bruteforce(spark):
    """The R-S (staging x master) prefix-filtered linkage join must
    return EXACTLY the naive A x B inverted-list join: every cross pair
    at Jaccard >= t, no same-side pairs, correct inter/union counts.
    The two sides deliberately share id values (same id space, as when
    the same url exists in staging and master) to pin the (side, id)
    keying. Joinable semantics: a token counts toward an intersection
    iff it occurs on BOTH sides and its combined df <= cap; denominators
    use full distinct-token counts."""
    import random
    import re
    from collections import Counter
    from fractions import Fraction

    from mdmpublic_spark.operators import dedup

    rng = random.Random(101)
    vocab = [f"w{i}" for i in range(50)]

    def mk(n, seed_docs=None):
        out = []
        for i in range(n):
            if seed_docs and rng.random() < 0.4:
                # near-dup of a doc from the other side: one-token edit
                base = list(rng.choice(seed_docs)[1].split())
                if rng.random() < 0.5 and len(base) > 2:
                    base.pop(rng.randrange(len(base)))
                else:
                    base.append(rng.choice(vocab))
            else:
                base = rng.sample(vocab, rng.randrange(3, 12))
            out.append((i, " ".join(base)))
        return out

    a_docs = mk(70)                      # staging: ids 0..69
    b_docs = mk(80, seed_docs=a_docs)    # master: ids 0..79 (overlapping id space)
    da = spark.createDataFrame(a_docs, ["doc_id", "text"])
    db = spark.createDataFrame(b_docs, ["doc_id", "text"])

    def toks(text):
        return {t for t in re.split("[^a-z0-9]+", text.lower()) if t}

    for threshold, df_cap in ((0.5, 10000), (0.8, 10000), (0.6, 12)):
        ta = {i: toks(t) for i, t in a_docs}
        tb = {i: toks(t) for i, t in b_docs}
        df_a = Counter(t for s in ta.values() for t in s)
        df_b = Counter(t for s in tb.values() for t in s)
        joinable = {
            t
            for t in set(df_a) | set(df_b)
            if df_a[t] >= 1 and df_b[t] >= 1 and df_a[t] + df_b[t] <= df_cap
        }
        frac = Fraction(str(threshold)).limit_denominator(10_000)
        expect = set()
        for i, sa in ta.items():
            for j, sb in tb.items():
                inter = len(sa & sb & joinable)
                union = len(sa) + len(sb) - inter
                if inter * frac.denominator >= frac.numerator * union:
                    expect.add((i, j, inter, union))
        got = {
            (r["id_a"], r["id_b"], r["inter_n"], r["union_n"])
            for r in dedup.cross_jaccard_pairs(
                da, db, threshold=threshold, df_cap=df_cap
            ).collect()
        }
        assert got == expect, (threshold, df_cap,
                               sorted(expect - got)[:5], sorted(got - expect)[:5])
