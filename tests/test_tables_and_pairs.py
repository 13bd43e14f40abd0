"""Tests for the table layer's retention operators (P7), the LSH
block-key pin, and the candidate-pair generator's shuffle fallback
path."""

from __future__ import annotations

import os
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from mdmpublic_spark.functions.hashing import LSH_BANDS, LSH_ROWS, minhash_signature_u64
from mdmpublic_spark.functions.text import (
    shingle_hashes_from_token_hashes,
    token_hashes_expr,
    tokens_expr,
)
from mdmpublic_spark.operators.blocking import block_keys
from mdmpublic_spark.operators.pairs import (
    PairGenStats,
    candidate_pairs,
    delta_candidate_pairs,
)
from mdmpublic_spark.tables import Table


def test_block_keys_equal_python_reference(spark):
    """LSH block keys equal an in-test reference: the MinHash of each
    page's stop-filtered shingle ids, banded with a Python f-string, and
    no keys at all for a page left with no shingles (empty text,
    punctuation only, every shingle a stop shingle). Pins the JVM banding
    of signed longs and the empty-set mask of ``block_keys``."""
    boiler = "Home About Contact Privacy Terms"
    texts = {
        "u/empty": "",
        "u/punct": "!!! ... --- ???",
        "u/stop": boiler,
        "u/one": "Solitary",
        "u/two": "two Words",
        "u/mixed": boiler + " the quick brown fox jumps over the lazy dog",
        "u/caps": "The QUICK brown Fox jumps, over the lazy dog!",
        "u/long": " ".join(f"w{i % 37}" for i in range(300)),
    }
    pages = spark.createDataFrame(sorted(texts.items()), "url string, text string")
    shingle_ids = {
        r["url"]: r["sh"]
        for r in pages.select("url", tokens_expr(F.col("text")).alias("toks"))
        .select("url", token_hashes_expr(F.col("toks")).alias("th"))
        .select("url", shingle_hashes_from_token_hashes(F.col("th")).alias("sh"))
        .collect()
    }
    stop = set(shingle_ids["u/stop"])
    expected = []
    for url, ids in shingle_ids.items():
        kept = np.asarray([h for h in ids if h not in stop], dtype=np.int64)
        if kept.size == 0:
            continue
        sig = minhash_signature_u64(kept.view(np.uint64))
        expected += [
            (url, f"b{b}:" + "-".join(str(v) for v in sig[b * LSH_ROWS : (b + 1) * LSH_ROWS]))
            for b in range(LSH_BANDS)
        ]
    got = [
        (r["url"], r["block_key"])
        for r in block_keys(pages, use_domain=False, stop_hashes=sorted(stop)).collect()
    ]
    assert sorted(got) == sorted(expected)
    assert {u for u, _ in got} == {"u/one", "u/two", "u/mixed", "u/caps", "u/long"}


def test_delete_where_and_null_semantics(spark, tmp_path):
    t = Table(str(tmp_path / "events"))
    df = spark.createDataFrame(
        [(1, 10), (2, 25), (3, None), (4, 40)], "id int, age int"
    )
    t.overwrite(df)
    t.delete_where(spark, "age > 20")
    kept = {r["id"] for r in t.read(spark).collect()}
    # NULL predicate rows survive (SQL DELETE removes only TRUE rows)
    assert kept == {1, 3}
    # pre-delete state is still time-travelable
    old = {r["id"] for r in t.read(spark, snapshot_id=1).collect()}
    assert old == {1, 2, 3, 4}


def test_unknown_snapshot_id_raises_key_error(spark, tmp_path):
    """An unknown snapshot id names the table and the id instead of
    escaping as a bare StopIteration."""
    t = Table(str(tmp_path / "t"))
    t.overwrite(spark.range(3).toDF("v"))
    for call in (lambda: t.read(spark, snapshot_id=7), lambda: t.file_row_counts(7)):
        with pytest.raises(KeyError, match=r"has no snapshot 7") as err:
            call()
        assert t.path in str(err.value)
    assert t.read(spark, snapshot_id=1).count() == 3 and t.file_row_counts(1)


def test_metrics_flush_keeps_schema(spark, tmp_path):
    """MetricsSink.flush builds its frame from pandas (Arrow); the rows
    it appends keep METRICS_SCHEMA and the values they were given."""
    import time

    from mdmpublic_spark.metrics import METRICS_SCHEMA, MetricsSink

    sink = MetricsSink(str(tmp_path / "metrics"), "run-1")
    t0 = time.time()
    sink.add("score", "rows", 12)
    sink.add("score", "partition_rows", 5, partition_id=3)
    sink.flush(spark)
    sink.add("cluster", "cc_rounds", 0.5)
    sink.flush(spark)
    df = sink.read(spark)
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in METRICS_SCHEMA
    ]
    rows = df.orderBy("stage", "key").collect()
    assert [(r.run_id, r.stage, r.partition_id, r.key, r.value) for r in rows] == [
        ("run-1", "cluster", -1, "cc_rounds", 0.5),
        ("run-1", "score", 3, "partition_rows", 5.0),
        ("run-1", "score", -1, "rows", 12.0),
    ]
    assert all(abs(r.ts.timestamp() - t0) < 60 for r in rows)


def test_expire_snapshots_drops_old_data(spark, tmp_path):
    t = Table(str(tmp_path / "metrics"))
    t.overwrite(spark.range(5).toDF("v"))
    t.append(spark.range(5, 8).toDF("v"))
    t.append(spark.range(8, 10).toDF("v"))
    assert len(t.history()) == 3
    n = t.expire_snapshots(keep_last=1)
    assert n == 2
    assert len(t.history()) == 1
    # current read still complete: append snapshots share data dirs, so
    # expiring must not remove dirs the surviving snapshot references
    assert t.read(spark).count() == 10
    # overwrite then expire: the superseded dirs really disappear
    t.overwrite(spark.range(3).toDF("v"))
    dirs_before = {d for d in os.listdir(t.path) if d.startswith("data-")}
    t.expire_snapshots(keep_last=1)
    dirs_after = {d for d in os.listdir(t.path) if d.startswith("data-")}
    assert dirs_after < dirs_before
    assert t.read(spark).count() == 3


def test_candidate_pairs_shuffle_path_matches_broadcast(spark):
    """Both membership-join paths (broadcast and shuffle) give the same
    pairs, for the small and the hot block class and with an oversize
    block dropped; and a delta batch holding every url regenerates
    exactly the full run's pairs and stats through the same admission
    pass and pair-join tail."""
    rows = [(f"u{i:03d}", "k1") for i in range(8)] + [
        (f"v{i:03d}", "k2") for i in range(3)
    ] + [("w1", "lonely"), ("u000", "k3"), ("u001", "k3")]
    blocked = spark.createDataFrame(rows, "url string, block_key string")
    every_url = blocked.select("url").distinct()

    def url_pairs(df):
        got = [(r["url_a"], r["url_b"]) for r in df.collect()]
        assert len(got) == len(set(got))
        return set(got)

    expected = {}
    # 5 < k1's 8 members: k1 runs as a hot block; cap 7 drops it
    for hot_below, cap in ((200, 2000), (5, 2000), (200, 7)):
        s_b, s_s = PairGenStats(), PairGenStats()
        broadcast = url_pairs(
            candidate_pairs(
                blocked, max_block_size=cap, broadcast_threshold=hot_below, stats=s_b
            )
        )
        shuffle = url_pairs(
            candidate_pairs(
                blocked,
                max_block_size=cap,
                broadcast_threshold=hot_below,
                stats=s_s,
                membership_broadcast_limit=0,
            )
        )
        assert broadcast == shuffle
        assert vars(s_b) == vars(s_s)
        assert s_b.hot_blocks == (1 if hot_below == 5 else 0)
        assert s_b.oversize_blocks == (1 if cap == 7 else 0)
        assert s_b.dropped_pairs_est == (8 * 7 // 2 if cap == 7 else 0)
        assert broadcast == expected.setdefault(cap, broadcast)
        for limit in (0, 10):
            s_d = PairGenStats()
            delta = delta_candidate_pairs(
                blocked,
                every_url,
                max_block_size=cap,
                broadcast_threshold=hot_below,
                stats=s_d,
                membership_broadcast_limit=limit,
            )
            assert url_pairs(delta) == broadcast
            assert vars(s_d) == vars(s_b)
    # k3 repeats the pair (u000, u001) of k1: counted once
    assert len(expected[2000]) == 8 * 7 // 2 + 3
    # with k1 dropped, its pair (u000, u001) stays reachable through k3
    assert expected[7] == {
        ("v000", "v001"), ("v000", "v002"), ("v001", "v002"), ("u000", "u001")
    }


def test_candidate_pairs_stats_without_key_collect(spark):
    """Oversize/hot accounting comes from a distributed aggregate — a
    100-member block over the cap is dropped with the exact pair count."""
    rows = [(f"u{i:03d}", "big") for i in range(100)] + [
        (f"x{i}", "ok") for i in range(4)
    ]
    blocked = spark.createDataFrame(rows, "url string, block_key string")
    stats = PairGenStats()
    pairs = candidate_pairs(blocked, max_block_size=50, broadcast_threshold=10, stats=stats)
    assert pairs.count() == 4 * 3 // 2
    assert stats.oversize_blocks == 1
    assert stats.dropped_pairs_est == 100 * 99 // 2
    assert stats.hot_blocks == 0


def test_cc_union_find_equals_distributed(spark):
    """The adaptive small-graph fast path must produce exactly the
    distributed large-star/small-star assignment (same min-id
    representatives), including chains that need multiple star rounds."""
    import random

    from mdmpublic_spark.operators.clustering import connected_components

    random.seed(5)
    edges = []
    for c in range(200):
        size = random.randrange(2, 9)
        nodes = [f"n{c:04d}x{i}" for i in range(size)]
        random.shuffle(nodes)
        for i in range(size - 1):
            edges.append((nodes[i], nodes[i + 1]))
    # a long chain (worst case for label propagation, fine for stars)
    chain = [f"chain{i:03d}" for i in range(60)]
    edges += list(zip(chain, chain[1:]))
    df = spark.createDataFrame(edges, "src string, dst string")

    fast, r_fast = connected_components(df)
    dist, r_dist = connected_components(df, small_graph_threshold=0)
    assert r_fast == 0 and r_dist >= 1
    a = {(r["url"], r["cluster_id"]) for r in fast.collect()}
    b = {(r["url"], r["cluster_id"]) for r in dist.collect()}
    assert a == b

    # an empty edge set: the union-find frame (built from pandas) keeps
    # the distributed path's schema and, like it, has no rows
    empty = spark.createDataFrame([], "src string, dst string")
    fast, r_fast = connected_components(empty)
    dist, _ = connected_components(empty, small_graph_threshold=0)
    assert r_fast == 0
    assert fast.schema.simpleString() == "struct<url:string,cluster_id:string>"
    assert fast.schema == dist.schema
    assert fast.collect() == dist.collect() == []


def test_cc_driver_collect_budget_is_bytes_aware(spark):
    """The union-find shortcut is gated on estimated DRIVER BYTES, not
    just edge count: a graph within the count threshold but over the
    byte budget must fall back to the distributed loop — with the same
    assignment either way (boundary test for clustering.py's
    driver_collect_budget_bytes)."""
    from mdmpublic_spark.operators.clustering import (
        _EDGE_FIXED_OVERHEAD,
        connected_components,
    )

    edges = [(f"u{i:05d}", f"u{i + 1:05d}") for i in range(50)]
    df = spark.createDataFrame(edges, "src string, dst string")
    pair_len = 12.0  # two 6-char node ids
    just_over = int(len(edges) * (pair_len + _EDGE_FIXED_OVERHEAD)) - 1
    just_under = int(len(edges) * (pair_len + _EDGE_FIXED_OVERHEAD)) + 16

    fast, r_fast = connected_components(df, driver_collect_budget_bytes=just_under)
    dist, r_dist = connected_components(df, driver_collect_budget_bytes=just_over)
    assert r_fast == 0 and r_dist >= 1
    a = {(r["url"], r["cluster_id"]) for r in fast.collect()}
    b = {(r["url"], r["cluster_id"]) for r in dist.collect()}
    assert a == b and len({c for _, c in a}) == 1


def test_dedup_latest_breaks_timestamp_ties_on_content(spark):
    """Two captures of one url with equal warc_ts: the same capture wins
    whatever the row order and the partitioning (a task retry or a
    different cluster width cannot flip the surviving text)."""
    import datetime

    from mdmpublic_spark.operators.extract import dedup_latest

    ts = datetime.datetime(2024, 1, 1)
    rows = [("u", ts, "text A", "t", "en"), ("u", ts, "text B", "t", "en")]
    schema = "url string, warc_ts timestamp, text string, title string, lang string"
    winners = set()
    for order in (rows, rows[::-1]):
        for n in (1, 2):
            df = spark.createDataFrame(order, schema).repartition(n)
            winners |= {r["text"] for r in dedup_latest(df).collect()}
    assert winners == {"text A"}


def test_jvm_scoring_bit_equals_python_udf(spark, corpus_dir):
    """The JVM-expression score path (array_intersect + levenshtein built-in
    + JW-only UDF) must reproduce the all-Python scoring UDF bit-for-bit:
    same integer cardinalities, same IEEE division, same left-to-right
    weighted sum (operators/scoring.py:score_pairs)."""
    from mdmpublic_spark.operators.extract import dedup_latest, extract_pages
    from mdmpublic_spark.operators.scoring import make_score_udf, page_features, score_pairs

    pages = dedup_latest(extract_pages(spark.read.parquet(f"{corpus_dir}/pages.parquet")))
    feats = page_features(pages)
    pairs = candidate_pairs(block_keys(pages)).limit(3000)
    scored = score_pairs(pairs, feats)

    fa = feats.select(
        F.col("url").alias("url_a"), F.col("title").alias("title_a"),
        F.col("tok_h").alias("th_a"), F.col("sh_h").alias("shh_a"))
    fb = feats.select(
        F.col("url").alias("url_b"), F.col("title").alias("title_b"),
        F.col("tok_h").alias("th_b"), F.col("sh_h").alias("shh_b"))
    udf_scored = (
        pairs.join(fa, "url_a").join(fb, "url_b")
        .withColumn("s", make_score_udf()("title_a", "title_b", "th_a", "th_b", "shh_a", "shh_b"))
        .select("url_a", "url_b", "s.*"))

    new = {(r["url_a"], r["url_b"]): r for r in scored.collect()}
    old = {(r["url_a"], r["url_b"]): r for r in udf_scored.collect()}
    assert set(new) == set(old) and len(new) > 500
    cols = ["jac_token", "jac_shingle", "cont_shingle", "jw_title", "lev_title", "score"]
    for k, rn in new.items():
        ro = old[k]
        for c in cols:
            assert rn[c] == ro[c], (k, c, rn[c], ro[c])


def test_score_pairs_optional_embedding_cosine(spark):
    """The optional embedding-cosine term: omitted → scores identical to
    the base cascade; provided → blended score = base + w_cos·cosine,
    with missing-embedding urls contributing exactly 0."""
    from mdmpublic_spark.operators.scoring import page_features, score_pairs

    text = "the quick brown fox jumps over the lazy dog again and again"
    pages = spark.createDataFrame(
        [(u, text) for u in ("a1", "a2", "b1", "b2", "c1", "c2")],
        "url string, text string",
    )
    feats = page_features(pages)
    pairs = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2"), ("c1", "c2")], "url_a string, url_b string"
    )
    base = score_pairs(pairs, feats)
    b = {(r["url_a"], r["url_b"]): r["score"] for r in base.collect()}

    # a-pair: parallel embeddings (cos 1); b-pair: orthogonal (cos 0);
    # c-pair: no embedding rows at all (term must coalesce to 0)
    emb = spark.createDataFrame(
        [
            ("a1", [1.0, 0.0]),
            ("a2", [2.0, 0.0]),
            ("b1", [1.0, 0.0]),
            ("b2", [0.0, 3.0]),
        ],
        "url string, embedding array<double>",
    )
    blended = score_pairs(pairs, feats, embeddings=emb, w_cos=0.25)
    rows = {(r["url_a"], r["url_b"]): r for r in blended.collect()}
    assert rows[("a1", "a2")]["cos_emb"] == 1.0
    assert rows[("b1", "b2")]["cos_emb"] == 0.0
    assert rows[("a1", "a2")]["score"] == b[("a1", "a2")] + 0.25
    assert rows[("b1", "b2")]["score"] == b[("b1", "b2")]
    assert rows[("c1", "c2")]["score"] == b[("c1", "c2")]


def test_flagship_with_embedding_cosine_runs(spark):
    """dedup_cluster_summary(use_embeddings=True) — the headline ER path
    with the cosine cascade term — must produce a full assignment (same
    doc count as the base path) over the sf0.001 tables, where the
    embeddings table covers every doc."""
    from tests.conftest import SF_SMOKE

    from mdmpublic_spark.queries.er_documents import dedup_clusters

    base = dedup_clusters(spark, SF_SMOKE)
    cos = dedup_clusters(spark, SF_SMOKE, use_embeddings=True)
    assert cos.count() == base.count()
    # the synthetic embeddings are independent of text, so a small-weight
    # cosine term may move borderline pairs, but every url keeps exactly
    # one cluster assignment
    assert cos.select("url").distinct().count() == cos.count()


def test_cc_checkpoint_generations_bounded(spark):
    """The distributed star loop frees every checkpoint generation it
    supersedes: after the run, exactly ONE generation this call created
    (the final edge set the returned plan reads) may remain pinned, no
    matter how many rounds convergence took — the property that keeps
    executor storage flat on long chains at scale. The union-find path
    must leave nothing pinned at all."""
    import time

    from mdmpublic_spark.operators.clustering import connected_components

    def _persistent_ids(spark):
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    # a 120-node chain forces multiple star rounds
    chain = [f"c{i:04d}" for i in range(120)]
    df = spark.createDataFrame(list(zip(chain, chain[1:])), "src string, dst string")

    before = _persistent_ids(spark)
    dist, rounds = connected_components(df, small_graph_threshold=0)
    dist.count()
    assert rounds >= 2
    for _ in range(20):  # async unpersist: give the block manager a beat
        leaked = _persistent_ids(spark) - before
        if len(leaked) <= 1:
            break
        time.sleep(0.25)
    assert len(leaked) <= 1, f"star loop left {len(leaked)} generations pinned"

    before = _persistent_ids(spark)
    fast, r_fast = connected_components(df)
    fast.count()
    assert r_fast == 0
    for _ in range(20):
        leaked = _persistent_ids(spark) - before
        if not leaked:
            break
        time.sleep(0.25)
    assert not leaked, f"union-find path left {len(leaked)} RDDs pinned"


def test_cc_cleanup_spares_concurrent_persists(spark):
    """CC's generation cleanup must unpersist ONLY the RDDs it created —
    a concurrent thread's cache/localCheckpoint made while the star loop
    runs has to survive with its blocks intact (the old global
    persistent-RDD diff would unpersist it, truncated lineage and all)."""
    import threading
    import time

    from mdmpublic_spark.operators.clustering import connected_components

    chain = [f"c{i:04d}" for i in range(150)]
    df = spark.createDataFrame(list(zip(chain, chain[1:])), "src string, dst string")

    holder: dict = {}

    def _other_job():
        # lands mid-CC-loop with high probability; the assertion below is
        # correct under exact ownership regardless of interleaving
        time.sleep(0.5)
        other = spark.range(1000).selectExpr("id", "id * 2 AS y").localCheckpoint()
        holder["df"] = other
        holder["count0"] = other.count()

    t = threading.Thread(target=_other_job)
    t.start()
    dist, rounds = connected_components(df, small_graph_threshold=0)
    dist.count()
    t.join()
    assert rounds >= 2
    other = holder["df"]
    jrdd = other._jdf.queryExecution().analyzed().rdd()
    assert jrdd.getStorageLevel().useMemory() or jrdd.getStorageLevel().useDisk(), (
        "concurrent localCheckpoint was unpersisted by CC cleanup"
    )
    # the blocks must still be readable (lineage is truncated, so a lost
    # block would fail this recount)
    assert other.count() == holder["count0"] == 1000


# --- Iceberg seam (round 5: flagged real-backend path) -----------------------


def test_iceberg_seam_gates_cleanly(spark):
    """The real-Iceberg backend must import everywhere, detect jar
    absence, and fail loudly (with the deployment hint) when constructed
    without the runtime — never silently fall back."""
    import pytest

    from mdmpublic_spark import iceberg

    avail = iceberg.iceberg_available(spark)
    assert isinstance(avail, bool)
    confs = iceberg.iceberg_session_confs("cat", "/tmp/wh")
    assert confs["spark.sql.catalog.cat"] == "org.apache.iceberg.spark.SparkCatalog"
    assert confs["spark.sql.catalog.cat.warehouse"] == "/tmp/wh"
    assert confs["spark.sql.extensions"].endswith("IcebergSparkSessionExtensions")
    # identifier quoting never interpolates raw names into SQL
    assert iceberg._q("cat.db.t`bl") == "`cat`.`db`.`t``bl`"
    if not avail:
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            iceberg.IcebergTable(spark, "cat.db.t")


def test_iceberg_writer_roundtrip(spark, tmp_path):
    """Full write-surface roundtrip against a REAL Iceberg catalog —
    skipped when no runtime jar is on the classpath (this sandbox), run
    verbatim on any deployment that launches with iceberg_session_confs.
    Covers: create-on-append, append commit, merge upsert, row-level
    delete with NULL-predicate survival, snapshot history monotonicity,
    VERSION AS OF time travel, per-file lineage counts, expire."""
    import pytest

    from mdmpublic_spark import iceberg

    if not iceberg.iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on the classpath")
    for k, v in iceberg.iceberg_session_confs("mdmtest", str(tmp_path)).items():
        spark.conf.set(k, v)
    t = iceberg.IcebergTable(spark, "mdmtest.db.pages")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"))
    assert t.read().count() == 3
    first = t.history()[0]["snapshot_id"]
    assert t.read(first).count() == 2  # time travel to the first commit
    t.merge_upsert(
        spark.createDataFrame([(3, "c2"), (4, "d")], "id long, v string"), ["id"]
    )
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a", 2: "b", 3: "c2", 4: "d"}
    t.delete_where("id >= 4")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3]
    assert sum(t.file_row_counts()) == 3
    hist = t.history()
    assert [h["snapshot_id"] for h in hist] == sorted(h["snapshot_id"] for h in hist)
    assert t.expire_snapshots(keep_last=1) >= 0


def test_iceberg_expire_snapshots_escapes_identifier(spark):
    """expire_snapshots passes the table identifier to the procedure as a
    SQL string literal: a quote or backslash in the name must not end the
    literal. A stub session records the SQL; the real parser reads the
    literal back."""
    import re
    import types

    from mdmpublic_spark import iceberg

    stub = types.SimpleNamespace(statements=[])

    def sql(text):
        stub.statements.append(text)
        return types.SimpleNamespace(collect=lambda: [])

    stub.sql = sql
    t = object.__new__(iceberg.IcebergTable)  # the constructor needs the jar
    t.spark, t.name = stub, "cat.db.o'bri\\en"
    t.expire_snapshots(keep_last=2)
    calls = [s for s in stub.statements if s.startswith("CALL")]
    assert calls == [
        "CALL `cat`.system.expire_snapshots("
        "table => 'db.o\\'bri\\\\en', retain_last => 2)"
    ]
    literal = re.search(r"table => ('.*'), retain_last", calls[0]).group(1)
    assert spark.sql(f"SELECT {literal} AS s").first()["s"] == "db.o'bri\\en"
