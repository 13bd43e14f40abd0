"""Stage 1 — deterministic text extraction (html → text).

The BASELINE per-row invariant: byte-identical extracted text per url
across runs and parallelism levels. The UDF (functions/text.py) is a
pure function of the html bytes — no locale, wall clock, or library
version can change an output byte (SURVEY.md §4.2 item 4).

Reference analog: staging-bucket canonicalization before matching
(/root/reference MDM lifecycle §3.4); the executable analog is the
regex field-carving + whitespace collapse in
/root/reference/python/tcp_port_scan/tcp_port_scan.py:49-51.

Scale: narrow map, no shuffle. If the same url was crawled repeatedly,
``dedup_latest`` keeps the newest capture (max warc_ts) — one window
shuffle on url, needed only when the source is append-mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from mdmpublic_spark.functions.text import extract_page


def extract_pages(raw: DataFrame) -> DataFrame:
    """(url, warc_ts, html[, text], lang) → (url, warc_ts, text, title, lang).

    Re-extracts from html always — the deterministic path; tests assert
    it reproduces the stored text byte-for-byte. ``title`` is the real
    <title> contents (empty string when the page has none) — scoring
    falls back to a text prefix then. text+title come from ONE pandas
    UDF so each html blob crosses Arrow once (html dominates the stage's
    Arrow volume).
    """
    return raw.select(
        "url", "warc_ts", extract_page(F.col("html")).alias("p"), "lang"
    ).select("url", "warc_ts", F.col("p.text").alias("text"), F.col("p.title").alias("title"), "lang")


def dedup_latest(pages: DataFrame) -> DataFrame:
    """Latest capture per url (exact url-level dedup, W3 latest-per-group).
    Captures with equal warc_ts are ordered by content, so the winner does
    not depend on row order or partitioning."""
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.asc("text"), F.asc("title"), F.asc("lang")
    )
    return (
        pages.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )
