"""Physical-plan regression tests: the 100 TB design properties that
`.explain("formatted")` proves — broadcasts where intended, pruned and
pushed-down scans, partial aggregation, and above all NO unbounded
cartesian product anywhere in the query inventory.

These assert on plan TEXT, not results: a refactor that silently turns
a bucketed equi-join back into an all-pairs join, or widens a pruned
scan to SELECT *, fails here long before it fails at scale.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from mdmpublic_spark.queries import registry
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs():
    # components(): the pre-merge per-operator queries — plan assertions
    # stay per-operator even though the driver registry serves merged
    # family-tagged unions (queries/merged.py)
    return registry.components()


# Lazy DataFrame builders only: st_* run a stream on construction and
# the ops_sources entries (s8/s10/s12/p7/...) commit table fixtures, so
# planning them here would be an execution, not a plan check.
LAZY_ENTRIES = [
    "q1_pricing_summary", "p1_projection", "p2_regex_whitelist",
    "p5_threshold_gate", "p6_time_window", "j1_broadcast_lookup",
    "j2_session_correlation", "j3_anti_join", "j4_anti_composite",
    "j5_full_outer_diff", "j6_semi_join", "j7_theta_like",
    "j9_asof_span", "a1_counts", "a2_group_stats", "a5_any_flag",
    "a7_rollup_counts", "a8_time_buckets", "a9_string_agg",
    "w1_lag_interval", "w2_topk", "w3_latest_per_group",
    "w4_session_duration", "w5_tail_n", "t1_union_distinct",
    "t2_except", "t4_intersect", "t5_must_include_union",
    "s1_string_funcs", "s2_date_funcs", "s3_hash_funcs",
    "s4_json_access", "s5_regex_parse", "d1_exact_dup_profile",
    "dd_exact_groups", "dd_token_jaccard_pairs", "dd_charngram_pairs",
    "dd_fingerprint_pairs",
    "dd_embedding_near_dup", "ann_brute_force_topk", "ann_lsh_topk",
    "ann_ivf_topk", "ta_token_stats", "ta_language_id",
    "ta_quality_scores", "ta_fingerprints", "mm_resize_plan",
    "b1_blocking_profile",
]

# Merged registry entries whose plan builds lazily (no fixture writes or
# eager jobs on construction) — the union wrappers the driver actually
# runs must be as cartesian-free as their components.
LAZY_MERGED = [
    "dd_jaccard_pairs", "ann_exact_topk", "ann_approx_topk",
    "ta_text_profile", "sc_pair_scores", "mm_pipeline",
    "j_anti_joins", "j_semi_theta", "j2_w4_session_stats",
    "a_counts_flags", "a_rollup_buckets", "w_window_family",
    "t_set_ops", "s_scalar_funcs",
]


def test_no_cartesian_product_anywhere(spark, qs):
    """CartesianProduct is the plan node that cannot survive scale: a
    non-broadcast all-pairs join. It must not appear in ANY inventory
    query. (BroadcastNestedLoopJoin is allowed — it is the deliberate
    shape of the theta join J7 and of tiny-side probes like the IVF
    centroid assignment, where one side is bounded by construction.)"""
    reg = registry.queries()
    targets = [(n, qs[n]) for n in LAZY_ENTRIES] + [(n, reg[n]) for n in LAZY_MERGED]
    missing = [n for n in LAZY_ENTRIES if n not in qs] + [
        n for n in LAZY_MERGED if n not in reg
    ]
    assert not missing, f"stale test list: {missing}"
    offenders = {}
    for name, fn in targets:
        p = plan_of(fn(spark, SF_SMOKE))
        if "CartesianProduct" in p:
            offenders[name] = p[:400]
    assert not offenders, f"all-pairs joins in: {sorted(offenders)}"


def test_broadcast_lookup_is_broadcast(spark, qs):
    p = plan_of(qs["j1_broadcast_lookup"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_q1_scan_pruned_partial_agg(spark, qs):
    """The pricing summary must read only its 5 columns (the lineitem
    parquet has 16) and aggregate map-side before the exchange — the
    two properties that bound its shuffle to |groups| rows at 100 TB."""
    p = plan_of(qs["q1_pricing_summary"](spark, SF_SMOKE))
    scan = p.split("ReadSchema: ")[1].splitlines()[0]
    cols = scan.split("struct<")[1]
    assert "l_comment" not in cols and "l_partkey" not in cols
    assert cols.count(":") <= 5, f"q1 scan too wide: {cols}"
    # partial aggregation: map-side HashAggregate before the exchange
    assert "partial_sum" in p and p.count("HashAggregate") >= 2


def test_filter_pushdown_reaches_scan(spark, qs):
    """Threshold and time-window predicates must reach the parquet
    reader as PushedFilters, not run as post-scan Filter only."""
    for name in ("p5_threshold_gate", "p6_time_window"):
        p = plan_of(qs[name](spark, SF_SMOKE))
        pushed = p.split("PushedFilters: ")[1].splitlines()[0]
        assert pushed != "[]", f"{name}: nothing pushed down"
        assert any(op in pushed for op in ("GreaterThan", "LessThan")), (
            f"{name}: comparison not pushed: {pushed}"
        )


def test_projection_prunes_scan(spark, qs):
    p = plan_of(qs["p1_projection"](spark, SF_SMOKE))
    scan = p.split("ReadSchema: ")[1].splitlines()[0]
    n_cols = scan.count(":")
    assert n_cols <= 4, f"projection scan reads {n_cols} columns: {scan}"


def test_embedding_near_dup_is_bucketed_equijoin(spark, qs):
    """The dedup-flavor embedding join must be keyed on the LSH bucket:
    an equi-join (hash or sort-merge), never nested-loop/cartesian."""
    p = plan_of(qs["dd_embedding_near_dup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_ivf_probe_join_is_keyed(spark, qs):
    """IVF: the corpus×centroid assignment may be a broadcast nested
    loop (centroids are bounded by construction) but the corpus-side
    cell probe join must be keyed on centroid_id — no CartesianProduct."""
    p = plan_of(qs["ann_ivf_topk"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_anti_join_not_nested_loop(spark, qs):
    p = plan_of(qs["j3_anti_join"](spark, SF_SMOKE))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_score_features_join_is_shuffled_hash(spark):
    """The score-stage features joins carry scoped shuffle_hash hints:
    sorting 10^9-row pair tables for SMJ is wasted work when the join
    is a pure lookup. The hint must survive into the physical plan."""
    from mdmpublic_spark.operators.scoring import page_features, score_pairs

    pages = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            F.col("text"),
        )
        .limit(200)
    )
    feats = page_features(pages)
    pairs = (
        feats.alias("a")
        .crossJoin(feats.alias("b"))
        .select(F.col("a.url").alias("url_a"), F.col("b.url").alias("url_b"))
        .where(F.col("url_a") < F.col("url_b"))
        .limit(50)
    )
    scored = score_pairs(pairs, feats)
    p = plan_of(scored)
    assert "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    # score crosses into Python once: each Python node is a worker
    # launch per task, so a second one would double the stage's fixed cost
    nodes = re.findall(r"^\(\d+\) (\w+)", p, flags=re.M)
    assert nodes.count("ArrowEvalPython") == 1, nodes


def _assert_no_transform_filter(p: str) -> None:
    conditions = re.findall(
        r"^\(\d+\) Filter\b.*?^Condition : (.*?)$", p, flags=re.M | re.S
    )
    assert conditions, p
    assert not [c for c in conditions if "transform(" in c], conditions


def test_lsh_block_keys_one_python_node_no_transform_filter(spark):
    """The LSH branch of block_keys crosses into Python once (the
    signature UDF; banding is JVM-side), and its empty-shingle-set mask
    stays a projection: a Filter over the shingle array is pushed below
    the projections and re-inlines the token hashes into every get() of
    the shingle transform — O(n²) per page."""
    from mdmpublic_spark.operators.blocking import block_keys

    pages = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(
            F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
            F.col("text"),
        )
        .limit(200)
    )
    p = plan_of(block_keys(pages, use_domain=False, stop_hashes=[3, 1, 2]))
    nodes = re.findall(r"^\(\d+\) (\w+)", p, flags=re.M)
    assert nodes.count("ArrowEvalPython") == 1, nodes
    _assert_no_transform_filter(p)


def test_near_dup_passes_evaluate_signature_udf_once(spark):
    """Each near-dup pass crosses into Python once: both sides of the
    bucket self-join read one shared exchange, so the signature UDF is not
    re-run per side, and the simhash popcount predicate infers no filter
    that evaluates the UDF a second time within a side. Counted in the
    final adaptive plan, after execution: AQE may turn the join into a
    broadcast, and only the executed plan shows what ran."""
    from mdmpublic_spark.operators.dedup import minhash_lsh_candidates, simhash_pairs

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    passes = {
        "shingle": minhash_lsh_candidates(docs, sketch="shingle"),
        "token": minhash_lsh_candidates(docs, n_bands=8, n_rows=8, sketch="token"),
        "simhash": simhash_pairs(docs),
    }
    counts = {}
    for name, df in passes.items():
        df.collect()
        final = df._jdf.queryExecution().executedPlan().executedPlan().toString()
        counts[name] = final.count("ArrowEvalPython")
    assert counts == {"shingle": 1, "token": 1, "simhash": 1}, counts


def test_minhash_shingle_arm_no_transform_filter(spark):
    """Same O(n²) guard for the near-dup shingle sketch and verify: Spark
    infers ``size(a) > 0`` for an ``explode`` of a plain attribute and
    pushes it below the shingle transform, so the shingle ids must be
    exploded as an expression."""
    from mdmpublic_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    _assert_no_transform_filter(
        plan_of(minhash_lsh_pairs(docs, n_bands=64, n_rows=1, verify="shingle"))
    )


def test_tail_n_is_take_ordered_not_global_window(spark, qs):
    """W5 tail-N must plan as TakeOrderedAndProject (per-partition top-N,
    driver merge of N rows) — NOT a row_number() over an unpartitioned
    window, which sorts the entire table in one task at scale. W2 top-K
    already has this shape; this pins W5 to it too."""
    for name in ("w5_tail_n", "w2_topk"):
        p = plan_of(qs[name](spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in p, f"{name}: {p[:300]}"
        assert "Window" not in p, f"{name} uses a window: {p[:300]}"
