"""Resumable stage runner — the pipeline's checkpoint/skip state machine.

Reference analogs (SURVEY.md §4.1-4.2):
  * skip-if-unchanged memoization: rebuild skipped when the git sha is
    unchanged (/root/reference/jenkins_scripts/jenkins/
    jenkins_code_build.sh:143-154);
  * completed-work skip lists: files already uploaded are recorded in a
    metadata manifest and skipped on rerun
    (/root/reference/bash/S3Sync/s3sync.sh:24-75);
  * fixed stage order with guaranteed teardown/reporting
    (/root/reference/jenkins_scripts/chef/deploy_cluster.sh:173-233).

Mechanism: each stage declares a **fingerprint** = hash of (stage name,
config dict, input table snapshot ids). The runner keeps a `_state.json`
manifest next to the output tables; if a stage's recorded fingerprint
matches and its output table exists, the stage is *skipped* and its
output read back from the committed snapshot — so a rerun after a crash
redoes only the stages at/after the failure point, and a rerun on
identical inputs is a no-op end to end (idempotence test in
tests/test_pipeline.py).

The manifest is O(stages) of JSON on the driver; all data stays in
snapshot-versioned parquet tables (tables.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mdmpublic_spark.metrics import MetricsSink
from mdmpublic_spark.tables import Table, write_json_atomic

STATE_FILE = "_state.json"


def fingerprint(stage: str, config: dict, input_snapshots: list[tuple[str, int]]) -> str:
    blob = json.dumps(
        {"stage": stage, "config": config, "inputs": sorted(input_snapshots)},
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


class StageRunner:
    def __init__(self, spark: SparkSession, work_dir: str, metrics: MetricsSink):
        self.spark = spark
        self.work_dir = work_dir
        self.metrics = metrics
        os.makedirs(work_dir, exist_ok=True)
        self._state_path = os.path.join(work_dir, STATE_FILE)
        self.state: dict = {}
        if os.path.exists(self._state_path):
            with open(self._state_path) as f:
                self.state = json.load(f)
        self.ran: list[str] = []
        self.skipped: list[str] = []
        self.timings: dict[str, float] = {}

    def table(self, name: str) -> Table:
        return Table(os.path.join(self.work_dir, name))

    def run_stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        config: dict | None = None,
        inputs: list[Table] | None = None,
    ) -> Table:
        """Run (or skip) one stage; output goes to table ``name``."""
        out = self.table(name)
        fp = fingerprint(
            name,
            config or {},
            [(t.path, t.current_snapshot_id() or 0) for t in (inputs or [])],
        )
        prior = self.state.get(name)
        if prior and prior.get("fingerprint") == fp and out.exists():
            self.skipped.append(name)
            self.metrics.add(name, "skipped", 1.0)
            return out

        t0 = time.time()
        df = fn()
        out.overwrite(df)
        dt = time.time() - t0
        # lineage: per-partition (= per output file/task) counts straight
        # from the committed parquet footers — no extra Spark jobs
        counts = out.file_row_counts()
        total = 0
        for pid, c in enumerate(counts):
            self.metrics.add(name, "partition_rows", float(c), partition_id=pid)
            total += c
        self.metrics.add(name, "rows", float(total))
        self.metrics.add(name, "seconds", dt)
        self.timings[name] = round(dt, 3)
        # no snapshot id here: the output table's own log is the one
        # record of its commit
        self.state[name] = {"fingerprint": fp, "rows": total}
        write_json_atomic(self._state_path, self.state)
        self.ran.append(name)
        return out
