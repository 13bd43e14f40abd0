"""Real-Iceberg backend for the snapshot-table interface (flag-gated).

``tables.Table`` is the sandbox default: parquet data dirs + a JSON
snapshot log emulating the Iceberg semantics the pipeline depends on
(this environment ships no Iceberg runtime jar and has no network to
fetch one). This module is the OTHER side of that seam: the same
method surface implemented against the actual Iceberg Spark APIs —
``df.writeTo(...).append()``, ``MERGE INTO``, ``DELETE FROM``,
snapshot metadata tables, ``VERSION AS OF`` time travel and the
``expire_snapshots`` procedure — so a deployment with
``iceberg-spark-runtime`` on the classpath swaps backends by
constructing ``IcebergTable`` instead of ``Table``, nothing else.

Availability is detected at runtime (``iceberg_available``), the
constructor fails loudly when the jar is absent, and the whole write
surface is covered by tests that skip when no jar is present
(tests/test_tables_and_pairs.py) — the seam stays compiled-against and
importable here even though only the emulation can execute.

Deployment shape (spark-submit / session builder):

    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    --conf spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.<cat>.type=hadoop
    --conf spark.sql.catalog.<cat>.warehouse=<path-or-bucket>

(``iceberg_session_confs`` returns exactly these confs for a local
hadoop catalog so tests and deployments configure one way.)

Reference analog: same as tables.py — the bucket/backup lifecycle
(/root/reference/python/db_backup/cb_backup.py:62-93,
es_backup.py:44-53) whose restorable generations map to Iceberg
snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# the extensions class ships in the runtime jar; its presence on the
# JVM classpath IS the availability signal (no side effects: Class.forName
# with initialize=false loads metadata only)
_PROBE_CLASS = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on this session's JVM
    classpath. Cheap (one reflective class probe), safe to call per
    construction."""
    try:
        jvm = spark._jvm
        jvm.java.lang.Class.forName(
            _PROBE_CLASS, False, jvm.Thread.currentThread().getContextClassLoader()
        )
        return True
    except Exception:
        return False


def iceberg_session_confs(catalog: str, warehouse: str) -> dict[str, str]:
    """The session confs a local hadoop-catalog Iceberg deployment needs —
    returned as a dict so tests and spark-submit wrappers configure the
    one canonical way (builder ``.config(k, v)`` per entry)."""
    return {
        "spark.sql.extensions": _PROBE_CLASS,
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def _q(ident: str) -> str:
    """Backtick-quote each dot-separated identifier part (table names
    come from callers; never interpolate them raw into SQL)."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in ident.split("."))


class IcebergTable:
    """The real-Iceberg twin of ``tables.Table``: same method surface,
    addressed by a catalog table identifier (``catalog.db.table``)
    instead of a filesystem path. Every mutation is one atomic Iceberg
    commit; history/time-travel/lineage read the table's own metadata
    tables instead of a JSON log."""

    def __init__(self, spark: SparkSession, name: str):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime jar not on the classpath — use "
                "mdmpublic_spark.tables.Table (the parquet+snapshot-log "
                "emulation) or launch with iceberg_session_confs(...) and "
                "--packages iceberg-spark-runtime"
            )
        self.spark = spark
        self.name = name

    # --- writes -----------------------------------------------------------

    def overwrite(self, df: DataFrame) -> None:
        df.writeTo(self.name).using("iceberg").createOrReplace()

    def append(self, df: DataFrame) -> None:
        if not self.exists():
            df.writeTo(self.name).using("iceberg").create()
        else:
            df.writeTo(self.name).append()

    def merge_upsert(self, source: DataFrame, key_cols: list[str]) -> None:
        """MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
        THEN INSERT * — the engine-native row-level upsert the emulation
        re-expresses as anti-join + overwrite."""
        view = "_mdm_merge_src"
        source.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in key_cols)
            self.spark.sql(
                f"MERGE INTO {_q(self.name)} t USING {view} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def delete_where(self, condition: str) -> None:
        """Row-level DELETE; NULL-predicate rows survive (SQL DELETE
        semantics — the same contract the emulation implements)."""
        self.spark.sql(
            f"DELETE FROM {_q(self.name)} WHERE coalesce(({condition}), false)"
        )

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """The expire_snapshots procedure; returns the count of expired
        snapshots (history length delta)."""
        catalog = self.name.split(".")[0]
        # a SQL string literal: escape backslashes, then quotes
        ident = self.name[len(catalog) + 1 :].replace("\\", "\\\\").replace("'", "\\'")
        before = len(self.history())
        self.spark.sql(
            f"CALL {_q(catalog)}.system.expire_snapshots("
            f"table => '{ident}', retain_last => {int(keep_last)})"
        )
        return max(0, before - len(self.history()))

    # --- reads ------------------------------------------------------------

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.name)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id is None:
            return self.spark.table(self.name)
        return self.spark.sql(
            f"SELECT * FROM {_q(self.name)} VERSION AS OF {int(snapshot_id)}"
        )

    def history(self) -> list[dict]:
        """Snapshot history from the table's own ``.snapshots`` metadata
        table (oldest first): [{snapshot_id, operation, ts}]."""
        rows = self.spark.sql(
            f"SELECT snapshot_id, operation, committed_at "
            f"FROM {_q(self.name)}.snapshots ORDER BY committed_at"
        ).collect()
        return [
            {
                "snapshot_id": r["snapshot_id"],
                "operation": r["operation"],
                "ts": r["committed_at"].timestamp(),
            }
            for r in rows
        ]

    def current_snapshot_id(self) -> int | None:
        h = self.history()
        return h[-1]["snapshot_id"] if h else None

    def file_row_counts(self) -> list[int]:
        """Per-data-file row counts from the ``.files`` metadata table —
        the per-partition lineage counts, no data scan."""
        return [
            r["record_count"]
            for r in self.spark.sql(
                f"SELECT record_count FROM {_q(self.name)}.files"
            ).collect()
        ]
