"""End-to-end pipeline tests: F1, transitivity, resume, determinism.

Mirrors the reference's testing philosophy (SURVEY.md §5.1): seeded
sandbox data + golden invariants (counts, exact-match flags) + metric
counters checked after every run.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mdmpublic_spark.evaluate import pairwise_scores
from mdmpublic_spark.pipeline import STAGES, PipelineConfig, run_pipeline
from mdmpublic_spark.tables import Table


@pytest.fixture(scope="module")
def run(spark, corpus_dir, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("pipeline"))
    info = run_pipeline(
        spark, os.path.join(corpus_dir, "pages.parquet"), work, PipelineConfig()
    )
    return {"info": info, "work": work}


def test_pipeline_f1(spark, corpus_dir, run):
    labeled = spark.read.parquet(os.path.join(corpus_dir, "labeled_pairs.parquet"))
    golden = Table(run["info"]["tables"]["golden"]).read(spark)
    m = pairwise_scores(labeled, golden.select("url", "cluster_id"))
    assert m["pairs"] > 500
    assert m["f1"] >= 0.99, m


def test_clusters_match_expected_exactly(spark, corpus_dir, run):
    """Cluster partition equals the injected ground truth (stronger than F1)."""
    golden = Table(run["info"]["tables"]["golden"]).read(spark)
    exp = spark.read.parquet(os.path.join(corpus_dir, "expected_clusters.parquet"))
    # compare as partitions: same co-membership ⇒ same (min-url) cluster ids
    diff = (
        golden.select("url", "cluster_id")
        .join(exp.select("url", F.col("cluster_id").alias("exp_id")), "url")
        .where(F.col("cluster_id") != F.col("exp_id"))
        .count()
    )
    total = exp.count()
    # allow a whisker of disagreement (F1 gate is the binding contract)
    assert diff <= max(2, total // 200), f"{diff}/{total} urls misclustered"


def test_golden_one_per_cluster(spark, run):
    golden = Table(run["info"]["tables"]["golden"]).read(spark)
    bad = (
        golden.groupBy("cluster_id")
        .agg(F.sum(F.col("is_golden").cast("int")).alias("g"))
        .where(F.col("g") != 1)
        .count()
    )
    assert bad == 0


def test_metrics_lineage_written(spark, run):
    metrics = Table(os.path.join(run["work"], "metrics")).read(spark)
    stages = {r["stage"] for r in metrics.select("stage").distinct().collect()}
    assert {"extract", "block", "pairs", "score", "cluster", "golden"} <= stages
    # per-partition lineage rows exist and sum to the stage totals
    per_part = metrics.where(
        (F.col("key") == "partition_rows") & (F.col("stage") == "pairs")
    ).agg(F.sum("value")).first()[0]
    tot = metrics.where(
        (F.col("key") == "rows") & (F.col("stage") == "pairs")
    ).agg(F.max("value")).first()[0]
    assert per_part == tot


def test_resume_skips_completed_stages(spark, corpus_dir, run):
    """Rerun on identical input+config: every stage skips (idempotence)."""
    info2 = run_pipeline(
        spark, os.path.join(corpus_dir, "pages.parquet"), run["work"], PipelineConfig()
    )
    assert info2["ran"] == []
    assert set(info2["skipped"]) == {
        "extract", "profile", "block", "pairs", "features", "score", "cluster", "golden",
    }


def test_resume_after_partial_state_loss(spark, corpus_dir, run, tmp_path):
    """Invalidate one mid-pipeline stage → only it and downstream rerun."""
    import json

    state_path = os.path.join(run["work"], "_state.json")
    with open(state_path) as f:
        state = json.load(f)
    state["score"]["fingerprint"] = "stale"
    with open(state_path, "w") as f:
        json.dump(state, f)
    info = run_pipeline(
        spark, os.path.join(corpus_dir, "pages.parquet"), run["work"], PipelineConfig()
    )
    assert set(info["skipped"]) == {"extract", "profile", "block", "pairs", "features"}
    assert info["ran"] == ["score", "cluster", "golden"]


def test_run_resumes_from_every_commit(spark, tmp_path, commit_hook, table_digests):
    """A run that dies right after any of its commits (the 8 stage
    tables, then the metrics append) and is rerun on the same work dir
    reruns only the stage it died in and the stages after it, and ends
    with the score, cluster and golden tables of a run that never died."""
    from mdmpublic_spark.gen.synth import generate_corpus

    corpus = str(tmp_path / "corpus")
    generate_corpus(corpus, n_pages=400)
    pages = os.path.join(corpus, "pages.parquet")
    outputs = ("score", "cluster", "golden")

    commit_hook.arm(None)
    run_pipeline(spark, pages, str(tmp_path / "clean"), PipelineConfig())
    commits = commit_hook.tables
    assert commits == [*STAGES, "metrics"]
    want = table_digests(str(tmp_path / "clean"), outputs)

    for k in range(1, len(commits) + 1):
        wd = str(tmp_path / f"crash-{k}")
        commit_hook.arm(k)
        with pytest.raises(commit_hook.Crash):
            run_pipeline(spark, pages, wd, PipelineConfig())
        commit_hook.arm(None)
        info = run_pipeline(spark, pages, wd, PipelineConfig())
        assert info["skipped"] == list(STAGES[: k - 1]), commits[k - 1]
        assert info["ran"] == list(STAGES[k - 1 :]), commits[k - 1]
        assert table_digests(wd, outputs) == want, commits[k - 1]


def test_config_change_invalidates(spark, corpus_dir, run):
    """Threshold lives in the cluster stage's fingerprint only — changing
    it reruns clustering downstream but nothing upstream (scores are
    stored un-thresholded)."""
    info = run_pipeline(
        spark,
        os.path.join(corpus_dir, "pages.parquet"),
        run["work"],
        PipelineConfig(score_threshold=0.7),
    )
    assert set(info["skipped"]) == {
        "extract", "profile", "block", "pairs", "features", "score",
    }
    assert info["ran"] == ["cluster", "golden"]


def test_clusters_deterministic_across_parallelism(spark, corpus_dir, tmp_path):
    """Same input at different shuffle parallelism ⇒ identical clusters —
    the two-cluster-size determinism leg of the BASELINE invariant."""
    from mdmpublic_spark.gen.synth import generate_corpus

    small = str(tmp_path / "corpus-small")
    generate_corpus(small, n_pages=400)
    outs = []
    for par, sub in ((2, "p2"), (8, "p8"), (256, "p256")):
        work = str(tmp_path / sub)
        spark.conf.set("spark.sql.shuffle.partitions", str(par))
        try:
            run_pipeline(spark, os.path.join(small, "pages.parquet"), work, PipelineConfig())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        rows = (
            Table(os.path.join(work, "golden"))
            .read(spark)
            .select("url", "cluster_id", "is_golden")
            .orderBy("url")
            .collect()
        )
        outs.append([tuple(r) for r in rows])
    assert outs[0] == outs[1] == outs[2]
