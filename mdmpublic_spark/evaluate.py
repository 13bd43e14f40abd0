"""Pairwise F1 evaluation against labeled same-block pairs (BASELINE metric).

The BASELINE.json metric: "pairwise F1 ≥ 0.99 on labeled same-block
pairs". Prediction for a labeled pair (a, b) = "a and b ended in the
same cluster" — i.e. we grade the *transitive* output, so a false edge
that merges two groups is punished on every cross pair, exactly like
the reference MDM's golden-record quality would be.

All computation is DataFrame joins/aggregates (two uniform-key joins on
url + one count aggregate); nothing is collected but the four scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pairwise_scores(labeled: DataFrame, clustered: DataFrame) -> dict:
    """labeled(url_a,url_b,is_match) × clustered(url,cluster_id) → P/R/F1."""
    ca = clustered.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("cid_a"))
    cb = clustered.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("cid_b"))
    j = (
        labeled.join(ca, "url_a")
        .join(cb, "url_b")
        .select("is_match", (F.col("cid_a") == F.col("cid_b")).alias("pred"))
    )
    row = j.agg(
        F.sum(F.when(F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(~F.col("is_match") & F.col("pred"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("is_match") & ~F.col("pred"), 1).otherwise(0)).alias("fn"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    tp, fp, fn = int(row["tp"]), int(row["fp"]), int(row["fn"])
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "pairs": int(row["n"]),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
