"""Snapshot-versioned table layer ("lakehouse-lite").

The design targets Iceberg tables; this sandbox ships no Iceberg
runtime jar and has no network, so this module provides the subset of
Iceberg semantics the pipeline depends on — atomic append/overwrite
commits, monotonically increasing snapshot ids, snapshot history, and
read-of-current-snapshot — as parquet data directories plus a JSON
snapshot log. The interface is format-agnostic by construction; porting
to a real Iceberg catalog is a per-method swap, documented where it
applies: ``overwrite`` → ``df.writeTo(name).createOrReplace()``,
``append`` → ``df.writeTo(name).append()``, ``read`` →
``spark.table(name)`` (+ ``VERSION AS OF`` for time travel),
``delete_where`` → ``DELETE FROM name WHERE ...`` (row-level delete),
``expire_snapshots`` → the Iceberg ``expire_snapshots`` procedure.
That swap is now WRITTEN: ``mdmpublic_spark.iceberg.IcebergTable``
implements this same surface against the real Iceberg Spark APIs,
gated on runtime-jar availability (it raises with deployment guidance
when the jar is absent — no silent fallback); its write surface is
covered by a skipped-if-no-jar roundtrip test. This module remains the
sandbox default because no Iceberg jar ships here.

Reference analog: Couchbase buckets + ES snapshot/backup machinery —
full/diff/accumulate backups (/root/reference/python/db_backup/
cb_backup.py:62-93) and compressed fs-snapshots
(/root/reference/python/db_backup/es_backup.py:44-53). A snapshot
commit here plays the role of a backup generation there: a consistent,
restorable point-in-time view with a recorded row count.

Scale note: the snapshot log holds one small JSON object per commit
(a pipeline makes ~10 commits per run), never row-level data, so the
driver-side JSON is O(stages), independent of data size. Data volume
lives only in parquet files written by executors.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SNAPSHOT_LOG = "_snapshots.json"


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` by write-temp-then-rename: the
    replace is atomic on POSIX, so a reader sees the old file or the new
    one, never a half-written one; the temp name is unique, so two
    writers never write into each other's temp file."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


@dataclass
class Snapshot:
    snapshot_id: int
    operation: str  # "append" | "overwrite"
    ts: float
    row_count: int
    data_dirs: list[str] = field(default_factory=list)  # dirs visible at this snapshot
    # the schema a parquet read of data_dirs reports (StructType JSON);
    # None — older logs, or appends of differing schemas — means infer
    schema: str | None = None


class Table:
    """A snapshot-versioned parquet table rooted at ``path``."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # --- snapshot log ---

    def _log_path(self) -> str:
        return os.path.join(self.path, SNAPSHOT_LOG)

    def history(self) -> list[Snapshot]:
        if not os.path.exists(self._log_path()):
            return []
        with open(self._log_path()) as f:
            return [Snapshot(**s) for s in json.load(f)]

    def current(self) -> Snapshot | None:
        h = self.history()
        return h[-1] if h else None

    def current_snapshot_id(self) -> int | None:
        c = self.current()
        return c.snapshot_id if c else None

    def _write_log(self, snaps: list[Snapshot]) -> None:
        # the rename is the commit: uncommitted data dirs are invisible, so
        # the log is the one record of which writes landed
        write_json_atomic(self._log_path(), [vars(s) for s in snaps])

    def _commit(self, snap: Snapshot) -> None:
        self._write_log(self.history() + [snap])

    def _snapshot(self, snapshot_id: int | None) -> Snapshot:
        snaps = self.history()
        if not snaps:
            raise FileNotFoundError(f"table {self.path} has no snapshots")
        if snapshot_id is None:
            return snaps[-1]
        for s in snaps:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"table {self.path} has no snapshot {snapshot_id}")

    # --- writes ---

    def file_row_counts(self, snapshot_id: int | None = None) -> list[int]:
        """Rows per data file (task output) from parquet footers — the
        per-partition lineage counts, O(files) driver-side, zero Spark
        jobs. One file ≙ one write task ≙ one partition."""
        import pyarrow.parquet as pq

        snap = self._snapshot(snapshot_id)
        counts: list[int] = []
        for d in snap.data_dirs:
            full = os.path.join(self.path, d)
            for name in sorted(os.listdir(full)):
                if name.endswith(".parquet"):
                    counts.append(pq.read_metadata(os.path.join(full, name)).num_rows)
        return counts

    def _write_data(self, df: DataFrame) -> tuple[str, int, str]:
        import pyarrow.parquet as pq

        snap_dir = f"data-{uuid.uuid4().hex[:12]}"
        full = os.path.join(self.path, snap_dir)
        df.write.mode("overwrite").parquet(full)
        # count from parquet footers — no extra Spark job per commit
        n = sum(
            pq.read_metadata(os.path.join(full, f)).num_rows
            for f in os.listdir(full)
            if f.endswith(".parquet")
        )
        # a parquet read reports every column nullable; recording that
        # form lets read() skip the one-task schema-inference job
        return snap_dir, n, df._jdf.schema().asNullable().json()

    def overwrite(self, df: DataFrame) -> Snapshot:
        d, n, schema = self._write_data(df)
        snap = Snapshot(
            snapshot_id=(self.current_snapshot_id() or 0) + 1,
            operation="overwrite",
            ts=time.time(),
            row_count=n,
            data_dirs=[d],
            schema=schema,
        )
        self._commit(snap)
        return snap

    def append(self, df: DataFrame) -> Snapshot:
        d, n, schema = self._write_data(df)
        cur = self.current()
        dirs = (cur.data_dirs if cur else []) + [d]
        total = (cur.row_count if cur else 0) + n
        snap = Snapshot(
            snapshot_id=(cur.snapshot_id if cur else 0) + 1,
            operation="append",
            ts=time.time(),
            row_count=total,
            data_dirs=dirs,
            schema=schema if cur is None or cur.schema == schema else None,
        )
        self._commit(snap)
        return snap

    def merge_upsert(
        self, spark: SparkSession, source: DataFrame, key_cols: list[str]
    ) -> Snapshot:
        """Idempotent MERGE-INTO-style upsert (Iceberg ``MERGE INTO …
        WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT`` with
        whole-row update): source rows replace target rows sharing the
        key; unmatched target rows survive; unmatched source rows insert.
        Running the same merge twice commits an identical table state.

        Reference analog: the git-mirror sync — overlay the source tree
        on the destination work-tree, commit only the delta, idempotent
        on rerun (/root/reference/jenkins_scripts/jenkins/
        replicate_git_repos.sh:99-127).
        """
        current = self.read(spark)
        kept = current.join(source.select(*key_cols), key_cols, "left_anti")
        return self.overwrite(kept.unionByName(source))

    def delete_where(self, spark: SparkSession, condition: str) -> Snapshot:
        """Row-level retention delete (Iceberg ``DELETE FROM … WHERE``
        semantics, copy-on-write flavor): rows where ``condition`` is
        TRUE are removed; rows where it is FALSE **or NULL** survive —
        SQL DELETE only removes rows whose predicate evaluates true.

        Reference analog: the 10-day ``find -mtime +N -delete`` retention
        policy (/root/reference/bash/backup_dir/backup_dir.sh:83-92,99)
        and stop-old-containers TTL eviction
        (/root/reference/jenkins_scripts/docker/stop_old_containers.sh:39-82).
        The rewrite commits as a new snapshot, so the pre-delete state
        remains time-travelable until ``expire_snapshots`` reclaims it.
        """
        from pyspark.sql import functions as F

        df = self.read(spark)
        kept = df.where(~F.coalesce(F.expr(condition), F.lit(False)))
        return self.overwrite(kept)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Expire old snapshots (Iceberg ``expire_snapshots`` procedure):
        drop log entries beyond the newest ``keep_last`` (at least the
        current one) and physically remove data dirs no surviving snapshot
        references. Returns the number of snapshots expired."""
        import shutil

        snaps = self.history()
        if not snaps:
            return 0
        keep = snaps[-max(1, keep_last):]
        keep_ids = {s.snapshot_id for s in keep}
        expired = [s for s in snaps if s.snapshot_id not in keep_ids]
        if not expired:
            return 0
        referenced = {d for s in keep for d in s.data_dirs}
        for s in expired:
            for d in s.data_dirs:
                if d not in referenced:
                    shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        self._write_log([s for s in snaps if s.snapshot_id in keep_ids])
        return len(expired)

    # --- reads ---

    def exists(self) -> bool:
        return self.current() is not None

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Read the table at its current (or a given) snapshot — time travel."""
        snap = self._snapshot(snapshot_id)
        paths = [os.path.join(self.path, d) for d in snap.data_dirs]
        if snap.schema is None:
            return spark.read.parquet(*paths)
        return spark.read.schema(StructType.fromJson(json.loads(snap.schema))).parquet(*paths)
