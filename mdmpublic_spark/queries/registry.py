"""The operator-inventory registry behind __spark_entry__.queries().

Each entry is one or more operators from SURVEY.md §2, expressed
Spark-first over the driver's parquet tables; `ORACLES` holds the
DuckDB-equivalent SQL (column names aliased identically on both sides —
the driver compares value hashes after sorting columns by name).
Entries without an oracle (non-SQL-expressible: the LSH+cascade
flagship and approximate ANN) get the driver's rows-only check; each
has an exact-configuration sibling or a pytest oracle pinning its
semantics.

**Window discipline (round-3 fix):** the driver's CORRECTNESS gate
checks exactly the first 50 entries in registration order. Round 2 had
73 entries, so 23 operators passed only locally. The inventory is now
consolidated to exactly 50 entries — single-purpose §2 fill-ins are folded into
family-tagged union entries (queries/merged.py) whose oracles apply the
identical projection to each component's existing oracle — so EVERY
operator, including both ER flagships and the streaming/grouped-map/
multimodal families, lands inside the driver window. The pre-merge
component queries remain individually addressable via ``components()``
for plan audits and tests.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mdmpublic_spark.queries import (
    cleaning,
    coverage,
    merged,
    ops_sources,
    relational,
    training_data,
)
from mdmpublic_spark.queries.er_documents import (
    CC_JACCARD_ORACLE,
    CLUSTER_SUMMARY_EXACT_ORACLE,
    GOLDEN_RECORDS_ORACLE,
    LINK_SOURCES_ORACLE,
    cc_jaccard_clusters,
    cluster_summary_exact,
    dedup_cluster_summary,
    golden_records_exact,
    link_sources,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# (name, fn, oracle|None) in driver-window order: flagships and the
# LLM-pipeline families first, relational inventory after — all 50 sit
# inside the 50-entry CORRECTNESS window (bound enforced below).
_ENTRIES: list[tuple[str, QueryFn, str | None]] = [
    # --- flagship + ER ------------------------------------------------
    ("q1_pricing_summary", relational.q1_pricing_summary,
     relational.ORACLES["q1_pricing_summary"]),
    # full LSH-blocked + scoring-cascade pipeline: not SQL-expressible →
    # rows-only; er_cluster_summary_exact hash-checks the same output
    # shape over an exact edge set, pytest pins F1 ≥ 0.99
    ("er_dedup_cluster_summary", dedup_cluster_summary, None),
    ("er_cluster_summary_exact", cluster_summary_exact, CLUSTER_SUMMARY_EXACT_ORACLE),
    ("er_cc_jaccard_clusters", cc_jaccard_clusters, CC_JACCARD_ORACLE),
    # stage-6 survivorship (golden.py) over the exact edge set — the
    # staging→master promotion of the surviving record, hash-checked
    ("er_golden_records", golden_records_exact, GOLDEN_RECORDS_ORACLE),
    # cross-source R-S linkage join (staging side × master side, no
    # same-side pairs) — the MDM promotion candidate match, hash-checked
    ("er_link_sources", link_sources, LINK_SOURCES_ORACLE),
    ("g1_block_pair_scores", coverage.g1_block_pair_scores,
     coverage.ORACLES["g1_block_pair_scores"]),
    ("b1_blocking_profile", coverage.b1_blocking_profile,
     coverage.ORACLES["b1_blocking_profile"]),
    # --- dedup family -------------------------------------------------
    ("dd_exact_groups", training_data.dd_exact_groups,
     training_data.ORACLES["dd_exact_groups"]),
    ("dd_jaccard_pairs", merged.dd_jaccard_pairs, merged.DD_JACCARD_ORACLE),
    ("dd_fingerprint_pairs", training_data.dd_fingerprint_pairs,
     training_data.ORACLES["dd_fingerprint_pairs"]),
    # merged r5: shingle-sketch + token-sketch arms, each at its recall-1
    # config, so the union hash-checks exactly (the token arm is the
    # order-insensitive pass closing the round-4 word-reorder gap)
    ("dd_minhash_pairs", merged.dd_minhash_pairs, merged.DD_MINHASH_ORACLE),
    ("dd_simhash_pairs", training_data.dd_simhash_pairs,
     training_data.ORACLES["dd_simhash_pairs"]),
    ("dd_embedding_near_dup", training_data.dd_embedding_near_dup,
     training_data.ORACLES["dd_embedding_near_dup"]),
    # corpus-wide span-level exact dedup (C4 §2.2 shape): int64-keyed
    # span-count groupBy + survivor reassembly, exact SQL oracle
    ("dd_span_dedup", cleaning.dd_span_dedup, cleaning.ORACLES["dd_span_dedup"]),
    # --- similarity search ---------------------------------------------
    ("ann_exact_topk", merged.ann_exact_topk, merged.ANN_EXACT_ORACLE),
    # approximate by design → rows-only; pytest recall ≥ 0.7 both arms
    ("ann_approx_topk", merged.ann_approx_topk, None),
    # --- text analysis --------------------------------------------------
    ("ta_text_profile", merged.ta_text_profile, merged.TA_TEXT_PROFILE_ORACLE),
    ("ta_fingerprints", training_data.ta_fingerprints,
     training_data.ORACLES["ta_fingerprints"]),
    ("ta_group_median", training_data.ta_group_median,
     training_data.ORACLES["ta_group_median"]),
    # web-corpus cleaning family: PII redaction (injected synthetic
    # PII), Gopher repetition signals, deterministic training-mix
    # sampling — all JVM-side, all exact-oracle-checked
    ("ta_pii_scrub", cleaning.ta_pii_scrub, cleaning.ORACLES["ta_pii_scrub"]),
    ("ta_repetition_stats", cleaning.ta_repetition_stats,
     cleaning.ORACLES["ta_repetition_stats"]),
    ("ta_quota_sample", cleaning.ta_quota_sample,
     cleaning.ORACLES["ta_quota_sample"]),
    ("sc_pair_scores", merged.sc_pair_scores, merged.SC_PAIR_SCORES_ORACLE),
    # --- multimodal ------------------------------------------------------
    ("mm_pipeline", merged.mm_pipeline, merged.MM_PIPELINE_ORACLE),
    # --- streaming -------------------------------------------------------
    ("st_stream_aggs", merged.st_stream_aggs, merged.ST_STREAM_AGGS_ORACLE),
    # per-key state machine; the transition SET over a fully-drained
    # deterministic stream is SQL-expressible (runs + recursive-CTE mode
    # walk) → full hash oracle since round 3; micro-batch-boundary
    # behavior is pinned by tests/test_streaming.py
    ("st_alarm_hysteresis", coverage.st_alarm_hysteresis,
     coverage.ORACLES["st_alarm_hysteresis"]),
    # --- ops sources/sinks ----------------------------------------------
    ("s3_s8_log_sources", merged.s3_s8_log_sources, merged.S3_S8_ORACLE),
    ("p7_retention_delete", ops_sources.p7_retention_delete,
     ops_sources.ORACLES["p7_retention_delete"]),
    ("s10_s12_table_maintenance", merged.s10_s12_table_maintenance,
     merged.S10_S12_ORACLE),
    ("s2_partition_stats", coverage.s2_partition_stats,
     coverage.ORACLES["s2_partition_stats"]),
    # --- relational inventory ---------------------------------------------
    ("p1_projection", relational.p1_projection, relational.ORACLES["p1_projection"]),
    ("p2_regex_whitelist", relational.p2_regex_whitelist,
     relational.ORACLES["p2_regex_whitelist"]),
    ("p3_p4_p8_filters", merged.p3_p4_p8_filters, merged.P3_P4_P8_ORACLE),
    ("p5_threshold_gate", relational.p5_threshold_gate,
     relational.ORACLES["p5_threshold_gate"]),
    ("p6_time_window", relational.p6_time_window, relational.ORACLES["p6_time_window"]),
    ("j1_broadcast_lookup", relational.j1_broadcast_lookup,
     relational.ORACLES["j1_broadcast_lookup"]),
    ("j2_w4_session_stats", merged.j2_w4_session_stats, merged.J2_W4_ORACLE),
    ("j_anti_joins", merged.j_anti_joins, merged.J_ANTI_ORACLE),
    ("j5_full_outer_diff", relational.j5_full_outer_diff,
     relational.ORACLES["j5_full_outer_diff"]),
    ("j_semi_theta", merged.j_semi_theta, merged.J_SEMI_THETA_ORACLE),
    ("j9_asof_span", relational.j9_asof_span, relational.ORACLES["j9_asof_span"]),
    ("a_counts_flags", merged.a_counts_flags, merged.A_COUNTS_FLAGS_ORACLE),
    ("a2_group_stats", relational.a2_group_stats, relational.ORACLES["a2_group_stats"]),
    ("a_rollup_buckets", merged.a_rollup_buckets, merged.A_ROLLUP_BUCKETS_ORACLE),
    ("w_window_family", merged.w_window_family, merged.W_WINDOW_ORACLE),
    ("t_set_ops", merged.t_set_ops, merged.T_SET_OPS_ORACLE),
    ("s_scalar_funcs", merged.s_scalar_funcs, merged.S_SCALAR_FUNCS_ORACLE),
    ("s5_regex_parse", relational.s5_regex_parse, relational.ORACLES["s5_regex_parse"]),
    ("d1_exact_dup_profile", relational.d1_exact_dup_profile,
     relational.ORACLES["d1_exact_dup_profile"]),
]

DRIVER_WINDOW = 50

# The driver's CORRECTNESS gate checks exactly the first DRIVER_WINDOW
# entries; an entry past the bound would silently escape the gate (the
# round-2 failure mode), so overflow fails loudly at import time. An
# explicit raise, not assert: the gate must survive `python -O`.
if len(_ENTRIES) > DRIVER_WINDOW:
    raise RuntimeError(
        f"registry holds {len(_ENTRIES)} entries > DRIVER_WINDOW={DRIVER_WINDOW}; "
        "merge entries (queries/merged.py) instead of appending past the window"
    )
if len({name for name, _, _ in _ENTRIES}) != len(_ENTRIES):
    raise RuntimeError("duplicate registry entry name")


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, fn, _ in _ENTRIES}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _ENTRIES if sql is not None}


def components() -> dict[str, QueryFn]:
    """Every pre-merge component query, individually addressable (plan
    audits, tests, tools/dump_plans) — superset of queries() minus the
    merged wrappers."""
    out: dict[str, QueryFn] = {}
    for mod in (relational, training_data, ops_sources, coverage, cleaning):
        out.update(mod._FNS)
    out["er_dedup_cluster_summary"] = dedup_cluster_summary
    out["er_cluster_summary_exact"] = cluster_summary_exact
    out["er_cc_jaccard_clusters"] = cc_jaccard_clusters
    out["er_golden_records"] = golden_records_exact
    out["er_link_sources"] = link_sources
    return out
