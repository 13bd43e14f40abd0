"""Incremental ER batch tests — the equivalence contract, resume
idempotence, and cap-crossing accounting (mdmpublic_spark/incremental.py).

The binding check: folding a delta batch into a completed run produces
EXACTLY the tables a full recompute over (base ∪ delta) produces, given
the same frozen profile and no admission-cap crossings — same scored
pairs bit-for-bit, same clusters, same golden flags.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from mdmpublic_spark.gen.synth import generate_corpus
from mdmpublic_spark.incremental import incremental_update
from mdmpublic_spark.operators.pairs import PairGenStats, delta_candidate_pairs
from mdmpublic_spark.pipeline import PipelineConfig, run_pipeline
from mdmpublic_spark.tables import Table

N_RECAPTURES = 5


def _with_recaptures(spark, base_path: str, delta_path: str, out: str, n: int) -> str:
    """``delta_path`` plus newer captures of ``n`` base urls, each
    carrying another base page's html and text; written to ``out``."""
    base = spark.read.parquet(base_path)
    donors = base.orderBy("url").limit(2 * n).collect()
    recap = spark.createDataFrame(
        [
            (
                donors[i]["url"],
                donors[i]["warc_ts"] + datetime.timedelta(days=1),
                donors[i + n]["html"],
                donors[i + n]["text"],
                donors[i]["lang"],
            )
            for i in range(n)
        ],
        base.schema,
    )
    spark.read.parquet(delta_path).unionByName(recap).write.parquet(out)
    return out


@pytest.fixture(scope="module")
def inc(spark, tmp_path_factory):
    """Base run + incremental batch + frozen-profile full recompute.

    The delta is a deterministic 1-in-4 url-hash slice (so duplicate
    groups span the split) plus N_RECAPTURES newer captures of existing
    base urls whose html is swapped with another page's — exercising the
    changed-url retraction path, not just inserts."""
    root = tmp_path_factory.mktemp("inc")
    corpus = str(root / "corpus")
    generate_corpus(corpus, n_pages=1000)
    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))

    in_delta = F.pmod(F.xxhash64("url"), F.lit(4)) == 0
    base = pages.where(~in_delta)
    delta_new = pages.where(in_delta)

    base_path = str(root / "base.parquet")
    new_path = str(root / "new.parquet")
    delta_path = str(root / "delta.parquet")
    union_path = str(root / "union.parquet")
    base.write.parquet(base_path)
    delta_new.write.parquet(new_path)
    _with_recaptures(spark, base_path, new_path, delta_path, N_RECAPTURES)
    base.unionByName(spark.read.parquet(delta_path)).write.parquet(union_path)

    # the generator's Zipf head domain crosses the default d:100
    # admission cap between base and union — a real grandfathering case,
    # but this fixture pins exact equivalence, so the domain cap is
    # raised above the head (crossing behavior is unit-tested below)
    caps = {"d:": 400}
    wd_inc = str(root / "wd_inc")
    run_pipeline(spark, base_path, wd_inc, PipelineConfig(prefix_caps=caps))
    summary = incremental_update(
        spark, delta_path, wd_inc, PipelineConfig(prefix_caps=caps)
    )

    wd_full = str(root / "wd_full")
    run_pipeline(
        spark,
        union_path,
        wd_full,
        PipelineConfig(
            prefix_caps=caps, frozen_profile=os.path.join(wd_inc, "profile")
        ),
    )
    return {
        "summary": summary,
        "wd_inc": wd_inc,
        "wd_full": wd_full,
        "delta_path": delta_path,
        "n_delta_new": delta_new.count(),
    }


def test_batch_counters(inc):
    s = inc["summary"]
    assert s["new_urls"] == inc["n_delta_new"]
    assert s["changed_urls"] == N_RECAPTURES
    assert s["delta_pairs"] > 0
    # precondition for the exact-equivalence checks below: nothing was
    # grandfathered in this fixture
    assert s["pair_stats"]["grandfathered_blocks"] == 0


def test_incremental_scored_equals_full(spark, inc):
    """The merged scored table equals the full recompute's, bit-for-bit
    (scores are deterministic doubles from identical code paths)."""
    cols = ["url_a", "url_b", "score"]
    a = {tuple(r) for r in Table(os.path.join(inc["wd_inc"], "score")).read(spark).select(*cols).collect()}
    b = {tuple(r) for r in Table(os.path.join(inc["wd_full"], "score")).read(spark).select(*cols).collect()}
    assert a == b


def test_incremental_clusters_equal_full(spark, inc):
    cols = ["url", "cluster_id", "is_golden"]
    a = sorted(
        tuple(r)
        for r in Table(os.path.join(inc["wd_inc"], "golden")).read(spark).select(*cols).collect()
    )
    b = sorted(
        tuple(r)
        for r in Table(os.path.join(inc["wd_full"], "golden")).read(spark).select(*cols).collect()
    )
    assert a == b


def test_recaptured_urls_moved_cluster(spark, inc):
    """A recaptured url whose text became another page's text must end up
    co-clustered with that page (or at least leave its old cluster) —
    proves retraction + rescore actually happened."""
    golden = Table(os.path.join(inc["wd_inc"], "golden")).read(spark)
    extract = Table(os.path.join(inc["wd_inc"], "extract")).read(spark)
    # recaptured urls now carry their donor's text: same text ⇒ exact
    # duplicates ⇒ must share a cluster with the donor
    dup = (
        extract.alias("x")
        .join(extract.alias("y"), F.col("x.text") == F.col("y.text"))
        .where(F.col("x.url") < F.col("y.url"))
        .select(F.col("x.url").alias("u"), F.col("y.url").alias("v"))
    )
    g = golden.select("url", "cluster_id")
    mismatched = (
        dup.join(g.withColumnRenamed("url", "u").withColumnRenamed("cluster_id", "cu"), "u")
        .join(g.withColumnRenamed("url", "v").withColumnRenamed("cluster_id", "cv"), "v")
        .where(F.col("cu") != F.col("cv"))
        .count()
    )
    assert mismatched == 0


def test_tables_record_their_read_schema(spark, inc, tmp_path):
    """Every table of a run + recapture fold (metrics appends included)
    and a table rebuilt by backup.restore record the schema a parquet
    read of their data dirs reports, so Table.read plans with no Spark
    job; a log entry written without the field still reads by inference."""
    import json
    import shutil
    import time

    from mdmpublic_spark.backup import BackupManager
    from mdmpublic_spark.tables import SNAPSHOT_LOG

    wd = inc["wd_inc"]
    tables = [
        Table(os.path.join(wd, d))
        for d in sorted(os.listdir(wd))
        if os.path.exists(os.path.join(wd, d, SNAPSHOT_LOG))
    ]
    assert {"extract", "score", "cluster", "golden", "metrics"} <= {
        os.path.basename(t.path) for t in tables
    }
    bk = BackupManager(str(tmp_path / "bk"))
    bk.backup(Table(os.path.join(wd, "score")), "full")
    tables.append(bk.restore(str(tmp_path / "restored")))

    legacy = Table(str(tmp_path / "legacy"))
    shutil.copytree(os.path.join(wd, "golden"), legacy.path, dirs_exist_ok=True)
    with open(os.path.join(legacy.path, SNAPSHOT_LOG)) as f:
        entries = [{k: v for k, v in e.items() if k != "schema"} for e in json.load(f)]
    with open(os.path.join(legacy.path, SNAPSHOT_LOG), "w") as f:
        json.dump(entries, f)
    assert legacy.current().schema is None

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("read-with-schema", "Table.read of recorded schemas")
        read_schemas = {t.path: t.read(spark).schema for t in tables}
        sc.setJobGroup("read-legacy", "Table.read by inference")
        legacy_schema = legacy.read(spark).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed in order: once the inference job of the
    # later read shows up, any job of the earlier reads would have too
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("read-legacy") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("read-legacy")
    assert tracker.getJobIdsForGroup("read-with-schema") == []

    for t in tables:
        assert t.current().schema is not None, t.path
        dirs = [os.path.join(t.path, d) for d in t.current().data_dirs]
        assert read_schemas[t.path] == spark.read.parquet(*dirs).schema, t.path
    golden = Table(os.path.join(wd, "golden")).read(spark)
    assert legacy_schema == golden.schema
    assert legacy.read(spark).count() == golden.count()


def test_incremental_rerun_is_noop(spark, inc):
    """Re-running a completed batch skips every stage and re-applies no
    merge: identical snapshots, ran == []."""
    s2 = incremental_update(
        spark, inc["delta_path"], inc["wd_inc"], PipelineConfig(prefix_caps={"d:": 400})
    )
    assert s2["ran"] == []
    assert s2["snapshots"] == inc["summary"]["snapshots"]


def test_delta_pairs_cap_crossing_detected(spark):
    """A block pushed past the cap by the batch yields NO new pairs and
    is counted as grandfathered (derived from combined sizes minus delta
    memberships plus the changed urls' prior memberships — no prior-table
    scan); a block still under the cap yields only delta-touching pairs
    (old-old pairs never regenerate)."""
    prior = spark.createDataFrame(
        [(f"u{i}", "k") for i in range(5)] + [("u8", "m"), ("u9", "m")],
        "url string, block_key string",
    )
    delta_rows = [("u6", "k"), ("u7", "k"), ("u10", "m")]
    all_blocked = prior.unionByName(
        spark.createDataFrame(delta_rows, "url string, block_key string")
    )
    delta_urls = spark.createDataFrame([("u6",), ("u7",), ("u10",)], "url string")
    stats = PairGenStats()
    pairs = {
        (r["url_a"], r["url_b"])
        for r in delta_candidate_pairs(
            all_blocked,
            delta_urls,
            max_block_size=6,
            broadcast_threshold=100,
            stats=stats,
            prefix_caps=None,
        ).collect()
    }
    # block k: 5 prior + 2 delta = 7 > cap 6 → no pairs, grandfathered
    assert stats.oversize_blocks == 1
    assert stats.grandfathered_blocks == 1
    assert stats.grandfathered_pairs_est == 10  # C(5,2) previously scored
    # block m: u8,u9 prior + u10 delta → only pairs touching u10
    assert pairs == {("u10", "u8"), ("u10", "u9")}

    # a recaptured url leaves k: k held u0..u5 (6, at the cap) before the
    # batch; u5 now keys only to m (with u8), and new u6, u7 join k
    all_blocked = spark.createDataFrame(
        [(f"u{i}", "k") for i in (0, 1, 2, 3, 4, 6, 7)] + [("u5", "m"), ("u8", "m")],
        "url string, block_key string",
    )
    prior_changed = spark.createDataFrame([("u5", "k")], "url string, block_key string")
    delta_urls = spark.createDataFrame([("u5",), ("u6",), ("u7",)], "url string")
    stats = PairGenStats()
    pairs = {
        (r["url_a"], r["url_b"])
        for r in delta_candidate_pairs(
            all_blocked,
            delta_urls,
            max_block_size=6,
            broadcast_threshold=100,
            stats=stats,
            prefix_caps=None,
            prior_changed=prior_changed,
        ).collect()
    }
    # block k: 7 now > cap 6; prior size 7 - 2 delta + 1 retracted = 6
    assert stats.oversize_blocks == 1
    assert stats.grandfathered_blocks == 1
    assert stats.grandfathered_pairs_est == 6 * 5 // 2
    assert pairs == {("u5", "u8")}


def _insert_only_inputs(spark, root) -> tuple[str, str, str]:
    """(base, delta, union) pages paths: a 400-page corpus split by a
    1-in-5 url-hash slice, so the delta holds only new urls."""
    corpus = str(root / "corpus")
    generate_corpus(corpus, n_pages=400, seed=5)
    pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
    in_delta = F.pmod(F.xxhash64("url"), F.lit(5)) == 0
    base_path, delta_path, union_path = (
        str(root / "base.parquet"),
        str(root / "delta.parquet"),
        str(root / "union.parquet"),
    )
    pages.where(~in_delta).write.parquet(base_path)
    pages.where(in_delta).write.parquet(delta_path)
    pages.write.parquet(union_path)
    return base_path, delta_path, union_path


def test_insert_only_batch_equals_full(spark, tmp_path_factory):
    """The append fast path (no changed urls → no dissolution, fast
    appends everywhere) must also match a frozen-profile full recompute
    exactly."""
    root = tmp_path_factory.mktemp("inc-insert")
    base_path, delta_path, union_path = _insert_only_inputs(spark, root)

    caps = {"d:": 400}
    wd = str(root / "wd")
    run_pipeline(spark, base_path, wd, PipelineConfig(prefix_caps=caps))
    s1 = incremental_update(spark, delta_path, wd, PipelineConfig(prefix_caps=caps))
    assert s1["changed_urls"] == 0
    assert s1["pair_stats"]["grandfathered_blocks"] == 0

    wd_full = str(root / "wd_full")
    run_pipeline(
        spark,
        union_path,
        wd_full,
        PipelineConfig(prefix_caps=caps, frozen_profile=os.path.join(wd, "profile")),
    )
    cols = ["url", "cluster_id", "is_golden"]
    a = sorted(tuple(r) for r in Table(os.path.join(wd, "golden")).read(spark).select(*cols).collect())
    b = sorted(tuple(r) for r in Table(os.path.join(wd_full, "golden")).read(spark).select(*cols).collect())
    assert a == b
    sc = ["url_a", "url_b", "score"]
    x = {tuple(r) for r in Table(os.path.join(wd, "score")).read(spark).select(*sc).collect()}
    y = {tuple(r) for r in Table(os.path.join(wd_full, "score")).read(spark).select(*sc).collect()}
    assert x == y


MASTER = ("extract", "block", "features", "score", "cluster", "golden")


@pytest.mark.parametrize("recaptures", [0, 3])
def test_fold_resumes_from_every_commit(
    spark, tmp_path_factory, commit_hook, table_digests, recaptures
):
    """A fold that dies at a commit and is rerun on the same work dir ends
    with the master tables and counters of a fold that never died. The
    insert-only batch (its merges are appends) dies after each commit the
    fold makes: stage tables, master merges and the metrics append. The
    recapture batch dies at each master merge, once before and once after
    the rename. A merge's only record is its table's snapshot log, so a
    resume neither skips a merge that did not land nor re-applies one
    that did (an append re-applied would fold the batch twice)."""
    import shutil

    root = tmp_path_factory.mktemp(f"inc-crash-{recaptures}")
    base_path, batch, _ = _insert_only_inputs(spark, root)
    if recaptures:
        batch = _with_recaptures(
            spark, base_path, batch, str(root / "recap.parquet"), recaptures
        )
    cfg = PipelineConfig(prefix_caps={"d:": 400})
    seeded = str(root / "seeded")
    run_pipeline(spark, base_path, seeded, cfg)

    def fold(wd: str) -> dict:
        shutil.copytree(seeded, wd)
        return incremental_update(spark, batch, wd, cfg)

    commit_hook.arm(None)
    want = fold(str(root / "clean"))
    commits = commit_hook.tables
    assert want["changed_urls"] == recaptures
    assert commits.count("metrics") == 1
    assert sorted(t for t in commits if t in MASTER) == sorted(MASTER)
    want_tables = table_digests(str(root / "clean"), MASTER)
    if recaptures:
        merges = [k for k, t in enumerate(commits, 1) if t in MASTER]
        points = [(k, before) for k in merges for before in (True, False)]
    else:
        points = [(k, False) for k in range(1, len(commits) + 1)]

    for k, before in points:
        wd = str(root / f"crash-{k}-{'before' if before else 'after'}")
        commit_hook.arm(k, before)
        with pytest.raises(commit_hook.Crash):
            fold(wd)
        commit_hook.arm(None)
        got = incremental_update(spark, batch, wd, cfg)
        where = (k, "before" if before else "after", commits[k - 1])
        assert (got["new_urls"], got["changed_urls"]) == (
            want["new_urls"],
            want["changed_urls"],
        ), where
        assert table_digests(wd, MASTER) == want_tables, where


def test_stage_widths_follow_data_not_shuffle_partitions(spark, tmp_path_factory):
    """At a shuffle-partition count far above the task slots, a run and a
    fold of a small corpus keep every Spark stage within twice the
    default parallelism: AQE sizes each shuffle to its data, and no
    stage width comes from the shuffle-partition constant."""
    import time

    root = tmp_path_factory.mktemp("inc-widths")
    base_path, delta_path, _ = _insert_only_inputs(spark, root)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "stage-widths"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    try:
        sc.setJobGroup(group, "run + fold at 256 shuffle partitions")
        wd = str(root / "wd")
        run_pipeline(spark, base_path, wd, PipelineConfig())
        incremental_update(spark, delta_path, wd, PipelineConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # the status store is fed asynchronously: wait until every job of
    # the group has ended before reading its stages
    deadline = time.time() + 30
    while time.time() < deadline and any(
        tracker.getJobInfo(j) is None or tracker.getJobInfo(j).status == "RUNNING"
        for j in tracker.getJobIdsForGroup(group)
    ):
        time.sleep(0.1)
    job_ids = tracker.getJobIdsForGroup(group)
    assert job_ids
    cap = 2 * sc.defaultParallelism
    wide = {}
    for j in job_ids:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numTasks > cap:
                wide[sid] = (info.name, info.numTasks)
    assert wide == {}
