"""Incremental ER — fold a delta batch of pages into a completed
pipeline run without recomputing unaffected state.

A 10^12-document master is never re-linked from scratch: daily crawls
arrive as deltas, and the linkage cost of a batch must be proportional
to the BATCH (times the blocks it touches), not the corpus. This module
is the production-shaped answer, built from the same operators as
`pipeline.run_pipeline`:

  1. **extract** the delta; keep rows that are brand-new urls or
     strictly newer captures of known urls (newest-capture-wins, the
     master's own dedup rule).
  2. **merge** those rows into the master extract table — the Iceberg
     `MERGE INTO` shape (tables.Table.merge_upsert, SURVEY.md §2 S10).
  3. **block** only the delta, under the FROZEN master stop-shingle
     profile: blocking keys must stay comparable across batches, so the
     profile is pinned at bootstrap and refreshed by scheduled full
     re-profiles, not per batch (PipelineConfig.frozen_profile is the
     same knob on the full pipeline).
  4. **pairs**: only pairs touching a delta url
     (operators.pairs.delta_candidate_pairs), with block admission
     policy evaluated over COMBINED sizes and cap-crossing accounting.
  5. **score** just those pairs against the merged feature table; old
     pairs touching a changed url are retracted (their text changed),
     everything else keeps its committed score.
  6. **cluster by contraction**: untouched clusters enter connected
     components as star edges (member → representative) — O(members)
     rows instead of O(historical edges); clusters containing a delta
     url are dissolved and their surviving internal edges replayed raw.
     Components of (stars ∪ replayed ∪ new edges) equal components of
     the full edge set, because a cluster's star edges connect exactly
     the vertices its real edges connected.

Equivalence contract (tests/test_incremental.py): given the same frozen
profile and no cap crossings, the post-batch master tables match a full
recompute over (old ∪ delta) exactly — same scored pairs, same clusters,
same golden flags. Cap crossings are grandfathered, counted, and left to
the scheduled full re-block to reconcile (see delta_candidate_pairs).

Resume: each batch stage runs under the same StageRunner manifest as the
full pipeline (fingerprints pin the PRE-batch master snapshot ids, so a
crashed batch resumes mid-flight). A per-batch manifest, written once
before the first merge, holds those ids and nothing else. A master merge
has landed exactly when its table moved off its pinned snapshot: the
table's atomic snapshot log is the one record of the commit, so no crash
can leave a second record that disagrees with it (a re-applied append
would fold the batch twice). Re-running a completed batch is a no-op end
to end. Precondition: a crashed batch is resumed under the same batch id
before the next batch folds — a later batch moves the pinned tables too,
and the crashed one would then take its pending merges for done.

Reference analogs: staging→master promotion with idempotent replace
(/root/reference/jenkins_scripts/jenkins/replicate_git_repos.sh:99-127),
diff-vs-full backup cadence (/root/reference/python/db_backup/
cb_backup.py:62-93 — the delta batch is the "diff", the scheduled
re-profile/re-block the "full").
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from mdmpublic_spark.metrics import MetricsSink
from mdmpublic_spark.operators.blocking import block_keys, stop_ids
from mdmpublic_spark.operators.clustering import connected_components
from mdmpublic_spark.operators.extract import dedup_latest, extract_pages
from mdmpublic_spark.operators.golden import assign_clusters, golden_records
from mdmpublic_spark.operators.pairs import PairGenStats, delta_candidate_pairs
from mdmpublic_spark.operators.scoring import match_edges, page_features, score_pairs
from mdmpublic_spark.pipeline import STAGES, PipelineConfig
from mdmpublic_spark.plans.runner import StageRunner
from mdmpublic_spark.tables import Table, write_json_atomic


def incremental_update(
    spark: SparkSession,
    new_pages_path: str,
    work_dir: str,
    config: PipelineConfig | None = None,
    batch_id: str | None = None,
) -> dict:
    """Fold the pages at ``new_pages_path`` into the completed run at
    ``work_dir``; returns a summary dict (counters, ran/skipped stages,
    updated snapshot ids)."""
    import time as _time

    cfg = config or PipelineConfig()
    batch_id = batch_id or hashlib.sha256(new_pages_path.encode()).hexdigest()[:8]
    wall_t0 = _time.time()

    master = {n: Table(os.path.join(work_dir, n)) for n in STAGES}
    if not master["cluster"].exists():
        raise FileNotFoundError(
            f"{work_dir} holds no completed pipeline run (no cluster table); "
            "run pipeline.run_pipeline first"
        )

    # ---- per-batch manifest: pins the pre-batch master snapshots, so a
    # resumed batch recomputes against the SAME base; whether a merge
    # landed is read from the master table's own log (module docstring)
    manifest_path = os.path.join(work_dir, f"_inc_{batch_id}.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            base = json.load(f)["base_snapshots"]
    else:
        base = {n: master[n].current_snapshot_id() for n in STAGES}
        write_json_atomic(manifest_path, {"base_snapshots": base})

    def _apply_merge(name: str, fn) -> None:
        if master[name].current_snapshot_id() == base[name]:
            fn()

    metrics = MetricsSink(f"{work_dir}/metrics", run_id=f"inc-{batch_id}")
    runner = StageRunner(spark, work_dir, metrics)
    stage = lambda s: f"inc-{batch_id}.{s}"  # noqa: E731

    # ---- 1. delta extract (same deterministic path as the full run)
    d_extract_t = runner.run_stage(
        stage("extract"),
        lambda: dedup_latest(
            extract_pages(spark.read.parquet(new_pages_path).hint("rebalance"))
        ),
        config={"src": new_pages_path},
    )

    # ---- 2. effective delta: new urls, or strictly newer captures of
    # known urls (ties keep the master row — deterministic either way)
    old_extract = master["extract"].read(spark, snapshot_id=base["extract"])

    def _effective() -> DataFrame:
        return (
            d_extract_t.read(spark)
            .join(
                old_extract.select("url", F.col("warc_ts").alias("_old_ts")),
                "url",
                "left",
            )
            .withColumn("is_new", F.col("_old_ts").isNull())
            .where(F.col("is_new") | (F.col("warc_ts") > F.col("_old_ts")))
            .drop("_old_ts")
        )

    eff_t = runner.run_stage(
        stage("effective"),
        _effective,
        config={"base_extract": base["extract"]},
        inputs=[d_extract_t],
    )
    eff = eff_t.read(spark)
    n_eff = runner.state[stage("effective")]["rows"]
    n_new = eff.where("is_new").count()
    n_changed = n_eff - n_new
    metrics.add(stage("effective"), "new_urls", float(n_new))
    metrics.add(stage("effective"), "changed_urls", float(n_changed))

    def _fold(table: Table, src: DataFrame):
        """Insert-only batches (the common crawl-append case) APPEND —
        a new snapshot referencing the delta files plus the old ones,
        zero rewrite of master data (exactly Iceberg's fast append).
        Batches carrying changed urls take the MERGE-upsert path."""
        if n_changed == 0:
            return table.append(src)
        return table.merge_upsert(spark, src, ["url"])

    _apply_merge("extract", lambda: _fold(master["extract"], eff.drop("is_new")))

    # ---- 3. frozen profile
    stop_hashes, stop_hashes32 = stop_ids(
        master["profile"].read(spark, snapshot_id=base["profile"])
    )

    # ---- 4. delta blocking + membership merge
    d_block_t = runner.run_stage(
        stage("block"),
        lambda: block_keys(eff.drop("is_new"), stop_hashes=stop_hashes),
        config={"base_profile": base["profile"]},
        inputs=[eff_t],
    )
    _apply_merge("block", lambda: _fold(master["block"], d_block_t.read(spark)))
    blocked_all = master["block"].read(spark)
    # pre-batch memberships of CHANGED urls only (crossing accounting
    # needs their retracted keys); insert-only batches skip the scan
    prior_changed = None
    if n_changed:
        prior_changed = (
            master["block"]
            .read(spark, snapshot_id=base["block"])
            .join(
                eff.where(~F.col("is_new")).select("url").hint("broadcast"), "url"
            )
        )

    # ---- 5. delta pairs (combined-size admission policy)
    pair_stats = PairGenStats()
    d_pairs_t = runner.run_stage(
        stage("pairs"),
        lambda: delta_candidate_pairs(
            blocked_all,
            eff.select("url"),
            max_block_size=cfg.max_block_size,
            stats=pair_stats,
            prefix_caps=cfg.prefix_caps,
            prior_changed=prior_changed,
        ),
        config={
            "max_block_size": cfg.max_block_size,
            "prefix_caps": cfg.prefix_caps,
            "base_blocked": base["block"],
        },
        inputs=[d_block_t],
    )
    for key, value in vars(pair_stats).items():
        metrics.add(stage("pairs"), key, value)

    # ---- 6. delta features + merge
    d_feat_t = runner.run_stage(
        stage("features"),
        lambda: page_features(eff.drop("is_new"), stop_hashes32=stop_hashes32),
        config={"base_profile": base["profile"]},
        inputs=[eff_t],
    )
    _apply_merge("features", lambda: _fold(master["features"], d_feat_t.read(spark)))

    # ---- 7. score just the delta pairs against the merged features
    d_scored_t = runner.run_stage(
        stage("score"),
        lambda: score_pairs(d_pairs_t.read(spark), master["features"].read(spark)),
        config={"base_features": base["features"]},
        inputs=[d_pairs_t, d_feat_t],
    )

    # old pairs touching a delta url are retracted (the url's text or key
    # set changed — their committed score no longer describes the data);
    # they reappear in the delta pairs and are rescored above. Everything
    # else keeps its committed score row untouched.
    delta_url_df = eff.select("url")

    def _kept_old_scored() -> DataFrame:
        old_scored = master["score"].read(spark, snapshot_id=base["score"])
        return old_scored.join(
            delta_url_df.withColumnRenamed("url", "url_a").hint("broadcast"),
            "url_a",
            "left_anti",
        ).join(
            delta_url_df.withColumnRenamed("url", "url_b").hint("broadcast"),
            "url_b",
            "left_anti",
        )

    def _merge_scored():
        if n_changed == 0:
            # no old pair can touch a brand-new url — pure fast append
            return master["score"].append(d_scored_t.read(spark))
        # at scale this is a partition-local MERGE/delete on a
        # bucket(url_a)-partitioned Iceberg table; the sandbox stand-in
        # rewrites (same anti-join shuffle shape, copy-on-write flavor)
        return master["score"].overwrite(
            _kept_old_scored().unionByName(d_scored_t.read(spark))
        )

    _apply_merge("score", _merge_scored)

    # ---- 8. cluster by contraction
    def _cluster() -> DataFrame:
        old_assign = master["cluster"].read(spark, snapshot_id=base["cluster"])
        new_edges = match_edges(d_scored_t.read(spark), cfg.score_threshold)
        if n_changed == 0:
            # insert-only batch: no old edge died, so NO cluster needs
            # dissolving — every prior assignment enters as a star edge
            # and the old edge set is never touched
            stars = old_assign.select(
                F.col("url").alias("src"), F.col("cluster_id").alias("dst")
            )
            cc_in = stars.unionByName(new_edges)
        else:
            dissolved = (
                old_assign.join(delta_url_df.hint("broadcast"), "url")
                .select("cluster_id")
                .distinct()
            )
            stars = old_assign.join(dissolved, "cluster_id", "left_anti").select(
                F.col("url").alias("src"), F.col("cluster_id").alias("dst")
            )
            dissolved_members = old_assign.join(dissolved, "cluster_id").select("url")
            replay = match_edges(_kept_old_scored(), cfg.score_threshold).join(
                dissolved_members.withColumnRenamed("url", "src"), "src"
            )
            cc_in = stars.unionByName(replay).unionByName(new_edges)
        assign, rounds = connected_components(cc_in)
        metrics.add(stage("cluster"), "cc_rounds", rounds)
        return assign

    d_cluster_t = runner.run_stage(
        stage("cluster"),
        _cluster,
        config={
            "threshold": cfg.score_threshold,
            "base_cluster": base["cluster"],
            "base_scored": base["score"],
        },
        inputs=[d_scored_t],
    )
    _apply_merge(
        "cluster", lambda: master["cluster"].overwrite(d_cluster_t.read(spark))
    )

    # ---- 9. golden over the merged corpus
    _apply_merge(
        "golden",
        lambda: master["golden"].overwrite(
            golden_records(
                assign_clusters(
                    master["extract"].read(spark), master["cluster"].read(spark)
                )
            )
        ),
    )

    metrics.flush(spark)
    return {
        "batch_id": batch_id,
        "work_dir": work_dir,
        "ran": runner.ran,
        "skipped": runner.skipped,
        "wall_seconds": round(_time.time() - wall_t0, 3),
        "stage_seconds": runner.timings,
        "new_urls": n_new,
        "changed_urls": n_eff - n_new,
        "delta_pairs": runner.state[stage("pairs")]["rows"],
        "pair_stats": vars(pair_stats),
        "snapshots": {n: master[n].current_snapshot_id() for n in STAGES},
    }


def main() -> None:
    import argparse

    from mdmpublic_spark.operators.scoring import DEFAULT_THRESHOLD
    from mdmpublic_spark.session import get_spark

    ap = argparse.ArgumentParser(description="MDM incremental linkage batch")
    ap.add_argument("--pages", required=True, help="delta pages parquet path")
    ap.add_argument("--work-dir", required=True, help="completed run to update")
    ap.add_argument("--batch-id", default=None)
    ap.add_argument("--threshold", type=float, default=DEFAULT_THRESHOLD)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    spark = get_spark(app_name="mdm-incremental", master=args.master)
    cfg = PipelineConfig(score_threshold=args.threshold)
    print(
        json.dumps(
            incremental_update(
                spark, args.pages, args.work_dir, cfg, batch_id=args.batch_id
            )
        )
    )


if __name__ == "__main__":
    main()
