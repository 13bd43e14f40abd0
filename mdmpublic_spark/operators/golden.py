"""Stage 6 — cluster assignment completion + golden-record selection.

Reference analog: promotion of matched records into the `master` bucket
as the surviving golden record (/root/reference MDM lifecycle, SURVEY.md
§3.4; master bucket sizing at chef/setup_jenkins/jenkins_jobs/
DeploySystem/config.xml:107).

Survivorship rule (FIXTURES.md §3): the representative is the freshest
page (max warc_ts), ties broken by min url — deterministic, so the
golden set is stable across runs/partitioning.

Scale: one left join (pages ⨝ assignments on url — uniform key) and one
window over cluster_id. Duplicate clusters are small (pair-capping
bounds them), so the window partition never skews; singletons pass
through the window as 1-row partitions which AQE handles trivially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def assign_clusters(pages: DataFrame, assignments: DataFrame) -> DataFrame:
    """pages ⨝ cc-assignments; singletons (no edges) cluster as themselves."""
    return (
        pages.join(assignments, "url", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("url")))
    )


def golden_records(clustered: DataFrame, freshness_col: str = "warc_ts") -> DataFrame:
    """(url, <freshness_col>, cluster_id, ...) → one is_golden flag per
    row. ``freshness_col`` is any orderable column standing in for
    record freshness/completeness (warc_ts for pages; n_chars for the
    documents table, where the fullest record survives)."""
    w = Window.partitionBy("cluster_id").orderBy(F.desc(freshness_col), F.asc("url"))
    return clustered.withColumn("rn", F.row_number().over(w)).withColumn(
        "is_golden", F.col("rn") == 1
    ).drop("rn")
