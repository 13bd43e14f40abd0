"""Stage 3 — candidate-pair generation: skew-aware block self-join.

Reference analog: the MDM engine's candidate search against `mdm_index`
feeding a bounded computation pool (``mincomputationpoolsize: 16``,
``maxSimultaneousThreads: 8``, ``maxTotalThreads: 64`` —
/root/reference/chef/setup_jenkins/jenkins_jobs/DeploySystem/config.xml:91-92,111).
The pool bound is the reference's admission control on pair volume; our
analog is the block-size cap.

The physics (SURVEY.md §4.2 item 1): a block of B pages yields B(B-1)/2
pairs, so skew is *quadratic* — one 10⁵-page domain means 5×10⁹ pairs.
AQE's skew-join splitting only rebalances the shuffle; it cannot undo
B². Policy here, in order:

  1. **Size profile** — one groupBy(block_key).count() (map-side partial
     agg; output is O(distinct keys)).
  2. **Cap** — blocks with count > max_block_size are *dropped from pair
     generation* with a logged counter (never silently; the
     dropped-pairs count goes to metrics). Members remain reachable via
     their other keys (multi-pass blocking), which bounds recall loss.
  3. **Hot-block broadcast** — blocks above broadcast_threshold (but
     under the cap) are joined via an explicit ``F.broadcast`` of the
     hot side: the hot membership list is small by construction
     (≤ n_hot_blocks × max_block_size rows), so the B² work runs
     map-side with NO shuffle of the big side.
  4. **AQE skew split** — the remaining sort-merge self-join on
     block_key runs under spark.sql.adaptive.skewJoin for residual
     imbalance.

Pair dedup: a duplicate pair found under several keys (domain AND k LSH
bands) must be scored once — `groupBy(url_a, url_b)` (one shuffle on the
pair key, which AQE coalesces; pair keys are near-uniform because url
pairs are, so no skew here).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass
class PairGenStats:
    candidate_pairs: int = 0
    oversize_blocks: int = 0
    dropped_pairs_est: int = 0
    hot_blocks: int = 0
    # delta-batch accounting (delta_candidate_pairs only): blocks that a
    # batch pushed past the admission cap keep their previously-scored
    # pairs (grandfathered) — counted, never silent
    grandfathered_blocks: int = 0
    grandfathered_pairs_est: int = 0


DEFAULT_PREFIX_CAPS = {"d:": 100}


MEMBERSHIP_BROADCAST_LIMIT = 2_000_000  # joinable block keys; ~100 MB broadcast


def _cap_expr(max_block_size: int, prefix_caps: dict[str, int] | None):
    cap = F.lit(max_block_size)
    for prefix, c in (prefix_caps or {}).items():
        cap = F.when(
            F.col("block_key").startswith(prefix), F.least(F.lit(c), cap)
        ).otherwise(cap)
    return cap


def _classify_blocks(
    blocked: DataFrame,
    max_block_size: int,
    broadcast_threshold: int,
    prefix_caps: dict[str, int] | None,
    stats: PairGenStats | None,
):
    """Size-profile + classify every joinable block: (block_key, cls) with
    cls ∈ {small, hot}; oversize blocks are excluded (dropped from pair
    generation, counted in ``stats``). Returns (classified_df,
    n_joinable, n_hot); the classified table is localCheckpoint-
    materialized so membership joins don't re-aggregate ``blocked``."""
    # the size profile feeds two actions (the class-stats aggregate and
    # the classification checkpoint); persist so blocked is scanned and
    # aggregated once, then unpersist immediately after both actions —
    # nothing in the returned plan references it
    sizes = blocked.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
    out = _classify_sizes(sizes, max_block_size, broadcast_threshold, prefix_caps, stats)
    sizes.unpersist()
    return out


def _classify_sizes(
    sizes: DataFrame,
    max_block_size: int,
    broadcast_threshold: int,
    prefix_caps: dict[str, int] | None,
    stats: PairGenStats | None,
    restrict_to: DataFrame | None = None,
):
    """Classification over a pre-aggregated (block_key, n) size profile
    (persisted by the caller, who may reuse it for other aggregates).
    ``restrict_to`` (a block_key df) prunes the MATERIALIZED
    classification table to those keys — the profile stats stay global
    (the admission policy is corpus-wide), but a delta batch only ever
    joins against the blocks it touches, so checkpointing the rest would
    be O(corpus-distinct-keys) of wasted memory per batch."""
    cap_expr = _cap_expr(max_block_size, prefix_caps)

    prof = (
        sizes.where(F.col("n") > 1)
        .select(
            "block_key",
            "n",
            F.when(F.col("n") > cap_expr, "oversize")
            .when(F.col("n") > broadcast_threshold, "hot")
            .otherwise("small")
            .alias("cls"),
        )
    )
    # --- profile stats: one distributed aggregate, ≤3 rows collected ---
    # (never a per-key collect — a pathological key distribution cannot
    # OOM the driver)
    cls_rows = {
        r["cls"]: r
        for r in prof.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
        )
        .collect()
    }
    n_joinable = sum(int(r["k"]) for r in cls_rows.values())
    n_hot = int(cls_rows["hot"]["k"]) if "hot" in cls_rows else 0
    if stats is not None:
        stats.oversize_blocks = int(cls_rows["oversize"]["k"]) if "oversize" in cls_rows else 0
        stats.hot_blocks = n_hot
        stats.dropped_pairs_est = (
            int(cls_rows["oversize"]["pairs"]) if "oversize" in cls_rows else 0
        )

    keep = prof.where(F.col("cls") != "oversize").select("block_key", "cls")
    if restrict_to is not None:
        keep = keep.join(restrict_to.hint("broadcast"), "block_key", "left_semi")
    classified = keep.localCheckpoint(eager=True)
    return classified, n_joinable, n_hot


def _membership(
    blocked: DataFrame, classified: DataFrame, n_joinable: int, broadcast_limit: int
) -> DataFrame:
    """(url, block_key) rows of joinable blocks, tagged with their class
    (block_key, url, cls). The classification is broadcast while the
    joinable-key count fits in memory; beyond the limit (10^12-doc
    regime) the join falls back to a shuffle — Catalyst picks the
    strategy for the un-hinted join."""
    if n_joinable <= broadcast_limit:
        return blocked.join(F.broadcast(classified), "block_key")
    return blocked.join(classified, "block_key")


def _block_pairs(
    left: DataFrame, right: DataFrame, n_hot: int, keep: Column, url_a: Column, url_b: Column
) -> DataFrame:
    """Pairs of ``left`` × ``right`` members sharing a block, one join per
    class: small blocks shuffle, hot blocks broadcast the right side (hot
    members are bounded, ≤ n_hot × cap). ``keep`` is the caller's pair
    predicate and ``url_a``/``url_b`` its orientation, over the ``a.url``
    / ``b.url`` columns. The union is deduplicated across key families —
    one shuffle on the (near-uniform) pair key."""

    def join(cls: str, broadcast_right: bool) -> DataFrame:
        a = left.where(F.col("cls") == cls).select("block_key", "url").alias("a")
        b = right.where(F.col("cls") == cls).select("block_key", "url").alias("b")
        if broadcast_right:
            b = F.broadcast(b)
        return (
            a.join(b, F.col("a.block_key") == F.col("b.block_key"))
            .where(keep)
            .select(url_a.alias("url_a"), url_b.alias("url_b"))
        )

    pairs = join("small", broadcast_right=False)
    if n_hot:
        pairs = pairs.unionByName(join("hot", broadcast_right=True))
    return pairs.groupBy("url_a", "url_b").agg(F.count(F.lit(1)).alias("n_keys"))


def candidate_pairs(
    blocked: DataFrame,
    max_block_size: int = 2000,
    broadcast_threshold: int = 200,
    stats: PairGenStats | None = None,
    prefix_caps: dict[str, int] | None = DEFAULT_PREFIX_CAPS,
    membership_broadcast_limit: int = MEMBERSHIP_BROADCAST_LIMIT,
) -> DataFrame:
    """(url, block_key) → distinct (url_a, url_b) with url_a < url_b.

    ``prefix_caps`` applies a *tighter* cap per key family: domain keys
    (``d:``) default to 100 because a popular domain is not a duplicate
    signal — a 250-page domain block alone contributes 31k pairs of
    which ~all score below threshold, and domains follow a Zipf head, so
    large-domain blocks dominate candidate volume quadratically while
    the LSH band keys already give recall *inside* the domain (same-site
    near-duplicates share content shingles). Dropping them is the
    semantic skew policy AQE cannot apply (SURVEY.md §4.2 item 1);
    every drop is counted, never silent.

    Returns the pair DataFrame; fills ``stats`` (driver-side scalars
    only — one 3-row aggregate collect, never a per-key collect).
    """
    classified, n_joinable, n_hot = _classify_blocks(
        blocked, max_block_size, broadcast_threshold, prefix_caps, stats
    )
    member = _membership(blocked, classified, n_joinable, membership_broadcast_limit)
    a, b = F.col("a.url"), F.col("b.url")
    return _block_pairs(member, member, n_hot, a < b, a, b)


def delta_candidate_pairs(
    blocked_all: DataFrame,
    delta_urls: DataFrame,
    max_block_size: int = 2000,
    broadcast_threshold: int = 200,
    stats: PairGenStats | None = None,
    prefix_caps: dict[str, int] | None = DEFAULT_PREFIX_CAPS,
    membership_broadcast_limit: int = MEMBERSHIP_BROADCAST_LIMIT,
    prior_changed: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs for an incremental batch: every (url_a < url_b)
    pair sharing a block where AT LEAST ONE side is a delta url.

    Cost model (the reason this is not a filtered candidate_pairs): the
    only full-corpus work is ONE map-side-combined size aggregate over
    ``blocked_all`` (O(distinct keys) output — the same admission
    profile a full recompute computes). Everything downstream is pruned
    to the blocks the delta touches BEFORE any shuffle: the touched-key
    list (small — O(delta × keys/doc)) broadcast-semi-joins the big
    membership side, so the pair join shuffles members of touched
    blocks only, not the corpus. Old-old pairs are never regenerated;
    the caller keeps their previously-scored rows.

    Classification (cap / hot / small) runs over the COMBINED block
    sizes, so a batch never quietly grows a block past the admission
    policy. Blocks the batch pushes PAST the cap get no new pairs
    (their delta members stay reachable via other keys, as in
    ``candidate_pairs``), but their previously-scored pairs are
    grandfathered by the caller rather than retracted: at the 10^12-doc
    design point, un-matching existing masters because a block crossed
    an admission threshold would regress recall on untouched records.
    Crossings are DERIVED, not rescanned: prior_size = combined_size −
    delta_memberships + prior_memberships_of_changed_urls, so detection
    costs one small join against the touched-key aggregate instead of a
    second full-table scan. ``prior_changed`` = the PRE-batch (url,
    block_key) rows of urls whose capture changed (None/empty for
    insert-only batches — the common crawl-append case). Every crossing
    lands in ``stats.grandfathered_blocks`` / ``grandfathered_pairs_est``
    so the drift is observable and a periodic full re-block reconciles.

    ``n_keys`` counts generating (delta-membership, block) events, not
    the full run's per-pair key count — downstream scoring ignores it.
    """
    sizes = (
        blocked_all.groupBy("block_key").agg(F.count(F.lit(1)).alias("n")).persist()
    )

    d = delta_urls.select("url").distinct()
    # delta memberships (url, block_key): the batch is small relative to
    # the corpus by construction, so its url list rides a broadcast hash
    # join; a mega-batch degrades to a shuffle join via Catalyst's size
    # estimate (hint, not forced broadcast)
    dm_all = blocked_all.join(d.hint("broadcast"), "url")
    # the touched-key list is reused three times (classification prune,
    # crossing join, membership prune): materialize once
    touched = dm_all.select("block_key").distinct().localCheckpoint(eager=True)

    classified, n_joinable, n_hot = _classify_sizes(
        sizes,
        max_block_size,
        broadcast_threshold,
        prefix_caps,
        stats,
        restrict_to=touched,
    )

    if stats is not None:
        cap_expr = _cap_expr(max_block_size, prefix_caps)
        deltas = dm_all.groupBy("block_key").agg(F.count(F.lit(1)).alias("n_d"))
        j = sizes.join(deltas.hint("broadcast"), "block_key")
        if prior_changed is not None:
            pc = prior_changed.groupBy("block_key").agg(
                F.count(F.lit(1)).alias("n_pc")
            )
            j = j.join(pc.hint("broadcast"), "block_key", "left").na.fill({"n_pc": 0})
        else:
            j = j.withColumn("n_pc", F.lit(0))
        n_prior = F.col("n") - F.col("n_d") + F.col("n_pc")
        crossed = (
            j.where((n_prior > 1) & (n_prior <= cap_expr) & (F.col("n") > cap_expr))
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum(n_prior * (n_prior - 1) / 2).alias("pairs"),
            )
            .first()
        )
        stats.grandfathered_blocks = int(crossed["k"] or 0)
        stats.grandfathered_pairs_est = int(crossed["pairs"] or 0)
    sizes.unpersist()

    # prune the big side to delta-touched blocks BEFORE anything
    # shuffles: broadcast semi-join, evaluated map-side at the scan
    pruned = blocked_all.join(touched.hint("broadcast"), "block_key", "left_semi")
    member = _membership(pruned, classified, n_joinable, membership_broadcast_limit)
    dm = member.join(d.hint("broadcast"), "url")
    # a delta-delta pair is found from both sides: least/greatest orients
    # it, and the dedup tail folds the two copies
    a, b = F.col("a.url"), F.col("b.url")
    return _block_pairs(dm, member, n_hot, a != b, F.least(a, b), F.greatest(a, b))
