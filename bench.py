"""Benchmark harness — one JSON line for the driver (BENCH_r{N}.json).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is forced
end-to-end with the noop sink (full computation, no driver collect
bottleneck). The ER dedup query runs the complete blocking + scoring +
clustering pass over the documents table.

Before timing, every headline query runs once at sf0.001 (WARMUP_SF_DIR)
to warm JIT/codegen/Python-worker pools: the numbers then measure
steady-state query cost, not one-time JVM startup — the regime a
long-lived application on a real cluster actually runs in. Set
SPARK_GRAFT_NO_WARMUP=1 to skip (cold-session mode).

The N-vs-4N scaling study (BASELINE rule) lives in
tools/bench_scaling.py and reports into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mdmpublic_spark.queries import registry  # noqa: E402
from mdmpublic_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "j1_broadcast_lookup",
    "j_anti_joins",           # r2 name: j3_anti_join (+ j4, merged registry entry)
    "j9_asof_span",
    "a_rollup_buckets",       # r2 name: a8_time_buckets (+ a7)
    "w_window_family",        # r2 names: w1_lag_interval + w3_latest_per_group (+ w2/w5)
    "dd_minhash_pairs",       # oracle config: 64 bands × 1 row (recall-1)
    "dd_minhash_production",  # production config: LSH_BANDS×LSH_ROWS (21×3) — the
                              # path real users run, regression-tracked per VERDICT r2
    "dd_minhash_token_cands", # r5: TOKEN-set sketch candidate pass at the
                              # dup-targeted 8×8 banding — the order-insensitive
                              # arm's scale path (ids-only; see gate note below)
    "ta_text_profile",        # r2 name: ta_token_stats (+ language_id, quality)
    "dd_span_dedup",          # corpus-wide span dedup (C4 family) — tracks the
                              # int64-keyed count join + reassembly path
    "ann_exact_topk",         # r2 name: ann_brute_force_topk (+ ivf full probe)
    "er_dedup_cluster_summary",
    "er_dedup_cosine",        # same flagship pipeline + the embedding-cosine
                              # cascade term over a FULL-coverage embedding
                              # fixture (every doc has a vector), so the
                              # benched path is the all-pairs-gated blend;
                              # the partial-coverage left-join/coalesce arm
                              # stays pinned by pytest
    "er_cc_jaccard_clusters", # exact-Jaccard edges (prefix-filtered posting
                              # join) + the distributed large-star/small-star
                              # CC loop — was excluded at ~355s pre prefix
                              # filter; 21.5s after, so it joins the headline
    "er_link_sources",        # staging→master cross-source R-S linkage join
                              # (prefix-filtered, no same-side pairs) — the
                              # MDM promotion match, regression-tracked
]


def _dd_minhash_production(spark, sf_dir):
    """MinHash-LSH at the pipeline's production banding (21 bands × 3
    rows, token verify at 0.5) — not a registry entry (the approximate
    band config has no exact SQL oracle; dd_minhash_pairs checks the
    same machinery at the recall-1 config), but benchmarked so the
    configuration users actually run is visible round over round."""
    from mdmpublic_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, threshold=0.5, verify="token")


# dup-targeted banding for the TOKEN-set sketch (S-curve knee
# (1/b)^(1/r) = (1/8)^(1/8) ≈ 0.77): a pair at token-J ≥ 0.95 band-matches
# with p ≥ 1-(1-0.95^8)^8 ≈ 0.99985, while the bench fixture's template-
# heavy similarity mass (median cross-pair token-J ≈ 0.6 → p ≈ 0.13)
# stays mostly out of the candidate set. The candidate pass is ids-only
# (two longs/row), so even millions of candidates are a trivial shuffle;
# the posting-list VERIFY join is what must not run over them at low
# thresholds on a corpus this self-similar — recall measurement doesn't
# need it (truth pairs always survive verify), and ≥0.9-threshold users
# should run the exact PPJoin (token_jaccard_pairs) instead.
TOKEN_DUP_BANDS, TOKEN_DUP_ROWS = 8, 8


def _dd_minhash_token_cands(spark, sf_dir):
    """Candidate pass of the order-insensitive TOKEN-set MinHash sketch
    (round-5: closes the word-reorder blindness the round-4 recall gate
    measured) at the dup-targeted 8×8 banding — tracked as a wall so the
    new arm's hot path (JVM token hash → int64-array signature UDF →
    band bucket join) is regression-visible round over round."""
    from mdmpublic_spark.operators.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_candidates(
        docs, n_bands=TOKEN_DUP_BANDS, n_rows=TOKEN_DUP_ROWS, sketch="token"
    )


def _full_embeddings_dir(sf_dir: str) -> str:
    """Full-coverage embedding fixture for the cosine-arm bench.

    The driver's embeddings.parquet covers a subset of documents (sf0.1:
    2000 of 5000), which benches the left-join/coalesce fallback rather
    than the all-pairs-gated blend. This builds — once, cached in /tmp —
    a fixture dir holding the REAL documents table (symlink) plus an
    embeddings table covering every doc: real vectors kept byte-for-byte,
    missing ones synthesized deterministically (numpy Generator seeded by
    doc_id, unit-normalized, same dim/schema). No external data; nothing
    written under /root/testdata."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = f"/tmp/mdm_fullemb_{tag}"
    out_emb = os.path.join(d, "embeddings.parquet")
    link = os.path.join(d, "documents.parquet")
    marker = os.path.join(d, "source.json")
    src_emb = os.path.join(sf_dir, "embeddings.parquet")
    src_doc = os.path.join(sf_dir, "documents.parquet")
    # Cache validity: the marker records WHICH sources built the fixture
    # and their mtimes — mere existence is not enough (a run killed mid
    # write leaves a truncated file; regenerated testdata or a different
    # dir with the same basename would silently serve a stale fixture).
    # The parquet itself is written atomically (temp + os.replace) and
    # the marker last, so a valid marker implies a complete fixture.
    stamp = {
        "sf_dir": os.path.realpath(sf_dir),
        "emb_mtime": os.stat(src_emb).st_mtime,
        "doc_mtime": os.stat(src_doc).st_mtime,
    }
    try:
        with open(marker) as f:
            if json.load(f) == stamp and os.path.exists(out_emb) and os.path.exists(link):
                return d
    except (OSError, ValueError):
        pass
    os.makedirs(d, exist_ok=True)
    if os.path.islink(link) or os.path.exists(link):
        os.remove(link)
    os.symlink(src_doc, link)
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    doc_ids = pq.read_table(link, columns=["doc_id"]).column("doc_id").to_pylist()
    have = set(emb.column("vec_id").to_pylist())
    missing = sorted(i for i in doc_ids if i not in have)
    dim = len(emb.column("embedding")[0])
    rows_vec = []
    for did in missing:
        v = np.random.default_rng(did).standard_normal(dim).astype(np.float32)
        rows_vec.append((v / np.linalg.norm(v)).tolist())
    synth = pa.table(
        {
            "vec_id": pa.array(missing, pa.int64()),
            "embedding": pa.array(rows_vec, pa.list_(pa.float32())),
            "label": pa.array([-1] * len(missing), pa.int32()),
        }
    )
    tmp_emb = out_emb + ".tmp"
    pq.write_table(
        pa.concat_tables([emb.select(["vec_id", "embedding", "label"]), synth]),
        tmp_emb,
    )
    os.replace(tmp_emb, out_emb)
    with open(marker + ".tmp", "w") as f:
        json.dump(stamp, f)
    os.replace(marker + ".tmp", marker)
    return d


def _er_dedup_cosine(spark, sf_dir):
    """The flagship ER pipeline with the optional embedding-cosine
    cascade term enabled (scoring.score_pairs embeddings/w_cos), run over
    the full-coverage embedding fixture so every gated pair takes the
    blend path (VERDICT-r3 item 6)."""
    from mdmpublic_spark.queries.er_documents import dedup_cluster_summary

    return dedup_cluster_summary(
        spark, _full_embeddings_dir(sf_dir), use_embeddings=True
    )


from mdmpublic_spark.queries import training_data as _td  # noqa: E402

EXTRA = {
    "dd_minhash_production": _dd_minhash_production,
    "dd_minhash_token_cands": _dd_minhash_token_cands,
    "er_dedup_cosine": _er_dedup_cosine,
    # wall-comparability override: the registry's dd_minhash_pairs became
    # a two-arm merged entry in round 5 (shingle + token sketches for the
    # CORRECTNESS gate); the BENCHED dd_minhash_pairs stays the shingle
    # recall-1 component so the r2→r5 wall series keeps measuring the
    # same work (the token arm's wall is dd_minhash_token_cands above)
    "dd_minhash_pairs": _td.dd_minhash_pairs,
}


WARMUP_SF_DIR = "/root/testdata/sf0.001"


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def release_job_state(spark) -> None:
    """Free per-query session state between timed queries: leftover
    checkpoint blocks (the CC loop's final generation stays pinned until
    its DataFrame is dropped — the bench drops it right here, the way a
    real application releases job state after writing results) and any
    cached relations. Runs OUTSIDE the timed window; without it, each
    query's pinned storage leaks into every later query's measurement."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for k in m.keySet().toArray():
        m.get(k).unpersist(False)
    spark.catalog.clearCache()


def production_edge_recall(spark, sf_dir) -> dict:
    """Recall gate for the production LSH banding at bench scale
    (VERDICT-r3 item 2, SURVEY §7.4 item 4: measure recall per pass at
    real corpus sizes), published per round so a banding-knob regression
    becomes visible the way a wall regression already is.

    ``production_edge_recall`` compares the production 21×3 banding
    against the exact edge set of the SAME similarity the sketch
    estimates — shingle Jaccard ≥ 0.8, computed by the recall-1
    configuration (64 bands × 1 row, miss odds (1-J)^64 ≤ 1e-44 at
    J ≥ 0.8). Only the banding differs between the two runs, so the
    ratio isolates the knob; the 21×3 S-curve predicts ≥ 0.999 here.

    ``lsh_vs_token_truth_recall_combined`` gates the COMBINED near-dup
    candidate passes (rounds 2–4 published the shingle-only number under
    ``lsh_vs_token_truth_recall``, so the gate has its own key) —
    production 21×3 shingle-sketch edges ∪ the order-insensitive
    TOKEN-set-sketch candidates at the dup-targeted 8×8 banding (round-5
    arm) — against the exact TOKEN-Jaccard ≥ 0.95 set
    er_cc_jaccard_clusters hash-checks. Round 4 measured the shingle
    pass ALONE at 0.11% of this truth set (the duplicate family is
    bag-of-words-identical with shuffled word order — shingle-J 0.0, a
    structural blind spot no shingle banding can fix); the token sketch
    exists to close exactly that gap, so the combined number is the gate
    (target ≥ 0.99) and the shingle-only number stays published as
    ``lsh_vs_token_truth_recall_shingle_only`` for the structural
    context. The token arm contributes CANDIDATES, not verified pairs:
    a truth pair (J ≥ 0.95 ≥ any verify threshold) always survives
    verification, so truth∩candidates = truth∩emitted and the semi-join
    below never needs the posting-list verify join (which would be
    quadratic-ish on this template-heavy fixture)."""
    from mdmpublic_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_lsh_pairs,
        token_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = (
        minhash_lsh_pairs(docs, threshold=0.8, n_bands=64, n_rows=1, verify="shingle")
        .select("id_a", "id_b")
        .localCheckpoint()  # reused by count + semi-join; freed by release_job_state
    )
    prod_shingle = minhash_lsh_pairs(docs, threshold=0.8, verify="shingle").select(
        "id_a", "id_b"
    )
    n_truth = truth.count()
    n_found = truth.join(prod_shingle, ["id_a", "id_b"], "left_semi").count()

    tok_truth = (
        token_jaccard_pairs(docs, threshold=0.95).select("id_a", "id_b").localCheckpoint()
    )
    prod_tok = minhash_lsh_pairs(docs, threshold=0.5, verify="token").select(
        "id_a", "id_b"
    )
    token_cands = minhash_lsh_candidates(
        docs, n_bands=TOKEN_DUP_BANDS, n_rows=TOKEN_DUP_ROWS, sketch="token"
    )
    n_tok = tok_truth.count()
    n_shingle_only = tok_truth.join(prod_tok, ["id_a", "id_b"], "left_semi").count()
    n_combined = tok_truth.join(
        prod_tok.unionByName(token_cands), ["id_a", "id_b"], "left_semi"
    ).count()
    return {
        "production_edge_recall": round(n_found / n_truth, 4) if n_truth else 1.0,
        "shingle_truth_edges_t08": n_truth,
        "production_edges_matched": n_found,
        "lsh_vs_token_truth_recall_combined": (
            round(n_combined / n_tok, 4) if n_tok else 1.0
        ),
        "lsh_vs_token_truth_recall_shingle_only": (
            round(n_shingle_only / n_tok, 4) if n_tok else 1.0
        ),
        "token_truth_edges_t095": n_tok,
    }


def delta_batch_timing(spark, n_pages: int = 60000) -> dict:
    """Per-round cost of folding one insert-only delta crawl into a
    completed master (incremental.py + streaming/linkage.py's batch
    core) — VERDICT-r3 item 5: both paths were equivalence-tested but
    invisible to the driver bench. Bootstrap (base pipeline) runs
    UNTIMED; the reported wall is the incremental_update call alone, on
    an ``n_pages`` corpus with a deterministic 1-in-16 url-hash delta.

    The driver bench runs the 60k point; ``python bench.py --delta-scale``
    runs 60k AND 960k so the incremental path's value claim — delta cost
    tracks DELTA size, not base size — is measured, not asserted
    (VERDICT-r4 item 5; results recorded in BENCH.md)."""
    import shutil
    import tempfile

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from bench_scaling import ensure_corpus

    from mdmpublic_spark.incremental import incremental_update
    from mdmpublic_spark.pipeline import PipelineConfig, run_pipeline

    from pyspark.sql import functions as F

    denom = 16
    split = f"/tmp/mdm_bench_delta_{n_pages}_{denom}"
    meta = os.path.join(split, "meta.json")
    base_p = os.path.join(split, "base.parquet")
    delta_p = os.path.join(split, "delta.parquet")
    if not os.path.exists(meta):
        corpus = ensure_corpus(n_pages)
        pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        in_delta = F.pmod(F.xxhash64("url"), F.lit(denom)) == 0
        os.makedirs(split, exist_ok=True)
        pages.where(~in_delta).write.mode("overwrite").parquet(base_p)
        pages.where(in_delta).write.mode("overwrite").parquet(delta_p)
        with open(meta, "w") as f:
            json.dump(
                {
                    "n_base": spark.read.parquet(base_p).count(),
                    "n_delta": spark.read.parquet(delta_p).count(),
                },
                f,
            )
    with open(meta) as f:
        m = json.load(f)

    bench_dir = os.environ.get("SPARK_GRAFT_BENCH_DIR") or (
        "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    )
    wd = tempfile.mkdtemp(prefix="mdm-bench-inc-", dir=bench_dir)
    try:
        run_pipeline(spark, base_p, wd, PipelineConfig())  # untimed bootstrap
        release_job_state(spark)
        t0 = time.time()
        info = incremental_update(spark, delta_p, wd, PipelineConfig())
        dt = time.time() - t0
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    return {
        "delta_batch_sec": round(dt, 3),
        "delta_pages": m["n_delta"],
        "delta_base_pages": m["n_base"],
        "delta_pairs_scored": info.get("delta_pairs"),
    }


def delta_scale_study() -> None:
    """Measure delta_batch_sec at two base sizes (60k and 960k pages,
    same 1-in-16 url-hash delta rule) and print one JSON line per point —
    the incremental path's claim is that delta cost tracks delta size,
    not base size, so the 16× base-size ratio should move the wall far
    less than 16×. Run manually (`python bench.py --delta-scale`); the
    960k bootstrap pipeline is minutes of untimed setup, too heavy for
    the per-round driver bench."""
    spark = get_spark(app_name="mdm-delta-scale")
    for n_pages in (60000, 960000):
        out = {"base_pages_nominal": n_pages}
        out.update(delta_batch_timing(spark, n_pages))
        release_job_state(spark)
        print(json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    if "--delta-scale" in sys.argv:
        delta_scale_study()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="mdm-bench")
    qs = registry.queries() | EXTRA

    if not os.environ.get("SPARK_GRAFT_NO_WARMUP") and os.path.isdir(WARMUP_SF_DIR):
        for name in HEADLINE:
            force(qs[name](spark, WARMUP_SF_DIR))
        release_job_state(spark)

    # Single-shot walls are unattributable round-over-round on this
    # shared VM (documented ±30% noise band — r4 saw +23% on a query
    # whose code hadn't changed). Queries whose first reading is ≥
    # HEAVY_SEC therefore run MEDIAN_REPS times and report the median,
    # with per-rep readings published in "reps" so the spread is visible;
    # sub-threshold queries stay single-shot (their absolute noise is
    # small). The total is the sum of the reported (median) walls.
    HEAVY_SEC = 3.0
    MEDIAN_REPS = 3
    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    total = 0.0
    for name in HEADLINE:
        walls = []
        for _ in range(MEDIAN_REPS):
            t0 = time.time()
            force(qs[name](spark, sf_dir))
            walls.append(time.time() - t0)
            release_job_state(spark)
            if walls[0] < HEAVY_SEC:
                break
        walls.sort()
        med = walls[len(walls) // 2]
        timings[name] = round(med, 3)
        if len(walls) > 1:
            reps[name] = [round(w, 3) for w in walls]
        total += med

    out = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # quality + incremental metrics (untimed extras; skip with
    # SPARK_GRAFT_BENCH_FAST=1 when iterating locally on walls only)
    if not os.environ.get("SPARK_GRAFT_BENCH_FAST"):
        out.update(production_edge_recall(spark, sf_dir))
        release_job_state(spark)
        out.update(delta_batch_timing(spark))
        release_job_state(spark)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
