"""The end-to-end MDM record-linkage pipeline (SURVEY.md §7.1).

    pages ─extract→ extracted ─block→ blocked ─pairs→ pairs
          ─score→ scored ─cluster→ clusters ─golden→ golden

Each stage is a checkpointed table commit (plans/runner.py) with
per-partition lineage counters (metrics.py); reruns skip completed
stages (resume semantics per north_rule).

Run it standalone (the spark-submit entry per north_rule):

    spark-submit --py-files mdmpublic_spark.zip -m mdmpublic_spark.pipeline \
        --pages /data/pages.parquet --work-dir /data/run1

Reference lifecycle being reproduced: REST ingest → staging bucket →
index-assisted candidate search → scoring pool → master-bucket golden
records, with every mutation audited (SURVEY.md §3.4).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mdmpublic_spark.metrics import MetricsSink
from mdmpublic_spark.operators.blocking import block_keys, common_shingles, stop_ids
from mdmpublic_spark.operators.clustering import connected_components
from mdmpublic_spark.operators.extract import dedup_latest, extract_pages
from mdmpublic_spark.operators.golden import assign_clusters, golden_records
from mdmpublic_spark.operators.pairs import (
    DEFAULT_PREFIX_CAPS,
    PairGenStats,
    candidate_pairs,
)
from mdmpublic_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    match_edges,
    page_features,
    score_pairs,
)
from mdmpublic_spark.plans.runner import StageRunner

# the linkage stages, in run order; each commits the table of its name
# under the work dir, and the delta fold (incremental.py) merges into
# the same tables
STAGES = ("extract", "profile", "block", "pairs", "features", "score", "cluster", "golden")


@dataclass
class PipelineConfig:
    # pair admission cap on block size (see operators/pairs.py)
    max_block_size: int = 2000
    # per-key-family admission caps (see operators/pairs.py); None
    # disables family-specific tightening
    prefix_caps: dict | None = field(
        default_factory=lambda: dict(DEFAULT_PREFIX_CAPS)
    )
    # match threshold on the blended pair score (operators/scoring.py)
    score_threshold: float = DEFAULT_THRESHOLD
    # path to a committed profile table to reuse instead of re-profiling
    # (profile pinning): incremental batches freeze the master profile so
    # blocking keys stay comparable across batches, and a full recompute
    # given the same frozen profile is the incremental path's equivalence
    # oracle (tests/test_incremental.py). None = profile this corpus.
    frozen_profile: str | None = None


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    work_dir: str,
    config: PipelineConfig | None = None,
    run_id: str | None = None,
) -> dict:
    import time as _time

    cfg = config or PipelineConfig()
    run_id = run_id or uuid.uuid4().hex[:8]
    metrics = MetricsSink(f"{work_dir}/metrics", run_id)
    runner = StageRunner(spark, work_dir, metrics)
    wall_t0 = _time.time()
    # per-stage fingerprint configs hold ONLY the knobs that stage reads,
    # so e.g. a threshold change re-runs nothing upstream of clustering
    # a one-file input scans as one task; the rebalance lets AQE size the
    # extract map to the input's bytes (session.py has the sizing rule)
    raw = spark.read.parquet(pages_path).hint("rebalance")

    # 1. extract — deterministic html→text, newest capture per url
    extracted_t = runner.run_stage(
        "extract",
        lambda: dedup_latest(extract_pages(raw)),
        config={"src": pages_path},
    )
    extracted = extracted_t.read(spark)

    # 2a. profile — corpus-adaptive boilerplate ("stop shingles") by DF
    def _profile() -> DataFrame:
        if cfg.frozen_profile:
            from mdmpublic_spark.tables import Table

            return Table(cfg.frozen_profile).read(spark)
        return common_shingles(extracted, n_docs=runner.state["extract"]["rows"])

    profile_t = runner.run_stage(
        "profile",
        _profile,
        config={"frozen": cfg.frozen_profile},
        inputs=[extracted_t],
    )
    stop_hashes, stop_hashes32 = stop_ids(profile_t.read(spark))
    metrics.add("profile", "stop_shingles", len(stop_hashes))

    # 2b. block — multi-pass keys (domain + LSH bands over stopped shingles)
    blocked_t = runner.run_stage(
        "block",
        lambda: block_keys(extracted, stop_hashes=stop_hashes),
        inputs=[extracted_t, profile_t],
    )

    # 3. pairs — skew-aware block self-join
    pair_stats = PairGenStats()
    pairs_t = runner.run_stage(
        "pairs",
        lambda: candidate_pairs(
            blocked_t.read(spark),
            max_block_size=cfg.max_block_size,
            stats=pair_stats,
            prefix_caps=cfg.prefix_caps,
        ),
        config={"max_block_size": cfg.max_block_size, "prefix_caps": cfg.prefix_caps},
        inputs=[blocked_t],
    )
    for key, value in vars(pair_stats).items():
        metrics.add("pairs", key, value)

    # 4a. features — narrow scoring projection, materialized ONCE: the
    # score join reads it twice (a/b sides); recomputing the hashed
    # shingle arrays per side doubled the stage's JVM work.
    features_t = runner.run_stage(
        "features",
        lambda: page_features(extracted, stop_hashes32=stop_hashes32),
        inputs=[extracted_t, profile_t],
    )

    # 4b. score — vectorized pairwise metrics
    scored_t = runner.run_stage(
        "score",
        lambda: score_pairs(pairs_t.read(spark), features_t.read(spark)),
        inputs=[pairs_t, features_t],
    )

    # 5. cluster — large-star/small-star CC over match edges (score ≥ θ)
    def _clusters() -> DataFrame:
        assign, rounds = connected_components(
            match_edges(scored_t.read(spark), cfg.score_threshold),
            # scored rows upper-bound the edge count — lets CC pick the
            # union-find fast path without a sizing job when small
            edge_count=runner.state["score"]["rows"],
        )
        metrics.add("cluster", "cc_rounds", rounds)
        return assign

    clusters_t = runner.run_stage(
        "cluster",
        _clusters,
        config={"threshold": cfg.score_threshold},
        inputs=[scored_t],
    )

    # 6. golden — full assignment (singletons included) + survivorship
    def _golden() -> DataFrame:
        clustered = assign_clusters(extracted, clusters_t.read(spark))
        return golden_records(clustered)

    runner.run_stage("golden", _golden, inputs=[clusters_t, extracted_t])

    wall = _time.time() - wall_t0
    metrics.flush(spark)
    return {
        "run_id": run_id,
        "work_dir": work_dir,
        "ran": runner.ran,
        "skipped": runner.skipped,
        "wall_seconds": round(wall, 3),
        "stage_seconds": runner.timings,
        "rows": {s: runner.state[s]["rows"] for s in runner.state},
        "pair_stats": vars(pair_stats),
        "tables": {s: runner.table(s).path for s in STAGES},
    }


def main() -> None:
    import argparse
    import json

    from mdmpublic_spark.session import get_spark

    ap = argparse.ArgumentParser(description="MDM record-linkage pipeline")
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--threshold", type=float, default=DEFAULT_THRESHOLD)
    ap.add_argument("--max-block-size", type=int, default=2000)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--warmup-pages",
        default=None,
        help="run the whole pipeline once over this corpus into a throwaway "
        "dir first, so the reported timings reflect a warm JVM (long-lived "
        "cluster app), not first-run JIT compilation. A small corpus warms "
        "JIT, codegen caches and Python workers at a fraction of a "
        "full-input warmup's cost",
    )
    args = ap.parse_args()
    spark = get_spark(app_name="mdm-pipeline", master=args.master)
    cfg = PipelineConfig(score_threshold=args.threshold, max_block_size=args.max_block_size)
    if args.warmup_pages:
        import shutil
        import tempfile

        wdir = tempfile.mkdtemp(prefix="mdm-warmup-")
        run_pipeline(spark, args.warmup_pages, wdir, cfg)
        shutil.rmtree(wdir, ignore_errors=True)
    print(json.dumps(run_pipeline(spark, args.pages, args.work_dir, cfg)))


if __name__ == "__main__":
    main()
