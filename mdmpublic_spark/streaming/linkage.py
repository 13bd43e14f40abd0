"""Continuous linkage: stream landed page files into the master clusters.

Ties the streaming front half (staged ingest, `streaming/ingest.py`) to
the incremental ER back half (`incremental.py`): a Structured Streaming
file source watches a landing directory for newly-arrived parquet page
files, and each micro-batch is folded into a completed master run via
``incremental_update`` — blocking, pair generation, scoring and
clustering all at batch-proportional cost, never a corpus re-link.

Exactly-once comes from two stacked layers:

1. The streaming checkpoint commits a micro-batch's source offsets only
   after ``foreachBatch`` returns, so a crash mid-fold replays the whole
   batch with the SAME epoch id on restart.
2. ``incremental_update`` keys its per-batch manifest by that epoch id,
   so the replay skips every already-committed stage and re-applies no
   merge. A master merge's one record is its table's snapshot log: the
   replay takes a merge for done when the table moved off the snapshot
   the manifest pinned. That holds because the stream replays a crashed
   epoch first, before any later epoch folds — the precondition the
   fold states. The fold is idempotent end to end, at every crash point
   (tests/test_incremental.py::test_incremental_rerun_is_noop and
   ::test_fold_resumes_from_every_commit).

The micro-batch is staged to a per-epoch parquet directory before the
fold (mode=overwrite, so a replay rewrites the identical bytes): the
incremental runner fingerprints its input by path + snapshot, and a
stable on-disk artifact per epoch is what makes the manifest check
meaningful across process restarts.

Reference analog: the closed MDM engine's continuous record lifecycle —
REST ingest → staging bucket → candidate search → master promotion
(SURVEY.md §3.4; buckets /root/reference/chef/setup_jenkins/
jenkins_jobs/DeploySystem/config.xml:105-107) — re-expressed as one
Structured Streaming query over the lakehouse tables. The poll-based
micro-batch cadence mirrors the reference's Jenkins poll loops
(/root/reference/jenkins_scripts/jenkins/poll_jenkins_job.sh:19-38).

At 100 TB: the landing directory is the crawl-delivery bucket; each
micro-batch is one crawl segment. Every per-batch stage is delta-sized
(see incremental.py's scale notes); the only corpus-proportional term is
the admission-policy size aggregate, a single column-pruned map-side-
combined groupBy that maintained partition statistics replace on a real
lakehouse.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from mdmpublic_spark.incremental import incremental_update
from mdmpublic_spark.pipeline import PipelineConfig

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def start_incremental_linkage(
    spark: SparkSession,
    landing_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    config: PipelineConfig | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with available_now=True, drain) the continuous-linkage
    query over ``landing_dir``; master tables live in ``work_dir`` (a
    completed `pipeline.run_pipeline` run).

    Each micro-batch appends a summary line to
    ``{work_dir}/_stream_linkage_log.jsonl`` — the per-batch lineage
    trail (stage counters, snapshots, wall), the streaming analog of the
    metrics rows every batch stage already writes.

    Returns the StreamingQuery.
    """
    cfg = config or PipelineConfig()
    stage_root = os.path.join(work_dir, "_stream_batches")
    log_path = os.path.join(work_dir, "_stream_linkage_log.jsonl")

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        staged = os.path.join(stage_root, f"epoch={epoch_id}")
        # overwrite: an offset-replayed epoch restages identical bytes,
        # so the manifest's input fingerprint still matches
        batch_df.write.mode("overwrite").parquet(staged)
        summary = incremental_update(
            batch_df.sparkSession,
            staged,
            work_dir,
            config=cfg,
            batch_id=f"stream-{epoch_id:08d}",
        )
        with open(log_path, "a") as f:
            f.write(
                json.dumps(
                    {
                        "ts": time.time(),
                        "epoch": epoch_id,
                        "new_urls": summary["new_urls"],
                        "changed_urls": summary["changed_urls"],
                        "delta_pairs": summary["delta_pairs"],
                        "ran": summary["ran"],
                        "wall_seconds": summary["wall_seconds"],
                    }
                )
                + "\n"
            )

    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(landing_dir)

    writer = stream.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
