"""Per-stage / per-partition lineage counters → the `metrics` table.

Reference analog: ``insert_elk_entry`` appends ``[utc-ts] item property
value`` rows that feed the CBItemNum/ESItemNum Kibana trend dashboards
(/root/reference/bash/dump_db_summary/dump_db_summary.sh:60-99), and the
separate ES *audit* cluster records every mutation
(/root/reference/chef/setup_jenkins/jenkins_jobs/DeploySystem/config.xml:85-88).
Here every pipeline stage appends typed rows

    (ts TIMESTAMP, run_id STRING, stage STRING, partition_id INT,
     key STRING, value DOUBLE)

to a snapshot-versioned metrics table: partition_id = -1 for stage-level
counters (rows written, wall seconds, dropped pairs…), >= 0 for
per-partition row counts (the lineage required by the north_rule).

Scale note: per-partition counts come from the stage output's parquet
footers (``Table.file_row_counts``, one file per write task) — no Spark
job. Rows are buffered on the driver (O(stages × partitions)) and each
flush appends them as one Arrow-built frame, so no Python worker runs.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mdmpublic_spark.tables import Table

METRICS_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("key", StringType()),
        StructField("value", DoubleType()),
    ]
)


class MetricsSink:
    """Collects counter rows per stage and appends them to the metrics table."""

    def __init__(self, table_path: str, run_id: str):
        self.table = Table(table_path)
        self.run_id = run_id
        self._pending: list[tuple] = []

    def add(self, stage: str, key: str, value: float, partition_id: int = -1) -> None:
        self._pending.append((time.time(), self.run_id, stage, partition_id, key, float(value)))

    def flush(self, spark: SparkSession) -> None:
        if not self._pending:
            return
        # a pandas frame crosses to the JVM as Arrow batches; a row list
        # would run Python worker tasks to build the same frame
        pdf = pd.DataFrame(self._pending, columns=["epoch", *METRICS_SCHEMA.names[1:]])
        schema = StructType([StructField("epoch", DoubleType())] + METRICS_SCHEMA.fields[1:])
        df = spark.createDataFrame(pdf, schema=schema).select(
            F.timestamp_seconds(F.col("epoch")).alias("ts"), *METRICS_SCHEMA.names[1:]
        )
        self.table.append(df)
        self._pending = []

    def read(self, spark: SparkSession) -> DataFrame:
        return self.table.read(spark)
