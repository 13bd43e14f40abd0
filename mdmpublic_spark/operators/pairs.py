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

  1. **Size profile** — one groupBy(block_key) (map-side partial agg;
     output is O(distinct keys)), materialized once; one collect of
     ≤ 3 rows, one per class, fills the stats. The run and the delta
     fold share it (``_admit``).
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


def _tag(df: DataFrame, n: Column | int, d: Column | int, pc: Column | int) -> DataFrame:
    """(block_key, n, d, pc) admission rows of ``df`` (see ``_admit``)."""
    return df.select(
        "block_key", F.lit(n).alias("n"), F.lit(d).alias("d"), F.lit(pc).alias("pc")
    )


def _admit(
    members: DataFrame,
    max_block_size: int,
    broadcast_threshold: int,
    prefix_caps: dict[str, int] | None,
    stats: PairGenStats | None,
):
    """The admission pass shared by the run and the fold. ``members`` has
    one row per membership, (block_key, n, d, pc): ``n`` = 1 for a row of
    the combined table, ``d`` = 1 for a delta url's row, ``pc`` = 1 for a
    pre-batch row of a changed url (absent from the combined table).

    One aggregate profiles every block: its class over the combined size
    (oversize / hot / small), its pairs, whether the batch touches it,
    and its cap crossing — a block the batch pushed past the cap whose
    prior size n − n_d + n_pc had pairs under it. The profile is
    materialized once; one collect of ≤ 3 rows, one per class (never a
    per-key collect), fills ``stats`` and counts the joinable keys.
    Returns (keep, n_joinable, n_hot): the touched, non-oversize
    (block_key, cls) rows, their count, and how many of them are hot."""
    cap = _cap_expr(max_block_size, prefix_caps)
    n, n_d = F.col("n"), F.col("n_d")
    n_prior = n - n_d + F.col("n_pc")
    profile = (
        members.groupBy("block_key")
        .agg(F.sum("n").alias("n"), F.sum("d").alias("n_d"), F.sum("pc").alias("n_pc"))
        .where(n > 1)
        .select(
            "block_key",
            F.when(n > cap, "oversize")
            .when(n > broadcast_threshold, "hot")
            .otherwise("small")
            .alias("cls"),
            (n * (n - 1) / 2).alias("pairs"),
            (n_d > 0).alias("touched"),
            F.when(
                (n > cap) & (n_prior > 1) & (n_prior <= cap), n_prior * (n_prior - 1) / 2
            ).alias("crossed"),
        )
        .localCheckpoint(eager=True)
    )
    by_cls = {
        r["cls"]: r
        for r in profile.groupBy("cls")
        .agg(
            F.count(F.lit(1)).alias("blocks"),
            F.sum("pairs").alias("pairs"),
            F.count_if("touched").alias("touched"),
            F.count("crossed").alias("crossed"),
            F.sum("crossed").alias("crossed_pairs"),
        )
        .collect()
    }

    def total(cls: str, field: str) -> int:
        return int(by_cls[cls][field] or 0) if cls in by_cls else 0

    if stats is not None:
        stats.oversize_blocks = total("oversize", "blocks")
        stats.dropped_pairs_est = total("oversize", "pairs")
        stats.hot_blocks = total("hot", "blocks")
        stats.grandfathered_blocks = total("oversize", "crossed")
        stats.grandfathered_pairs_est = total("oversize", "crossed_pairs")
    n_hot = total("hot", "touched")
    keep = profile.where(F.col("touched") & (F.col("cls") != "oversize"))
    return keep.select("block_key", "cls"), n_hot + total("small", "touched"), n_hot


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
    return pairs.distinct()


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
    keep, n_joinable, n_hot = _admit(
        _tag(blocked, 1, 1, 0), max_block_size, broadcast_threshold, prefix_caps, stats
    )
    member = _membership(blocked, keep, n_joinable, membership_broadcast_limit)
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
    only full-corpus work is ONE map-side-combined aggregate over
    ``blocked_all`` — the admission profile a full recompute computes,
    with each block's delta-membership count beside its size. Only
    blocks the delta touches are joinable, so the membership join
    (broadcast while those keys fit) drops every other block at the
    scan, and the pair join shuffles members of touched blocks only,
    not the corpus. Old-old pairs are never regenerated; the caller
    keeps their previously-scored rows.

    Classification (cap / hot / small) runs over the COMBINED block
    sizes, so a batch never quietly grows a block past the admission
    policy. Blocks the batch pushes PAST the cap get no new pairs
    (their delta members stay reachable via other keys, as in
    ``candidate_pairs``), but their previously-scored pairs are
    grandfathered by the caller rather than retracted: at the 10^12-doc
    design point, un-matching existing masters because a block crossed
    an admission threshold would regress recall on untouched records.
    Crossings come from the same profile: prior_size = combined_size −
    delta_memberships + prior_memberships_of_changed_urls, with no
    second scan of the prior table. ``prior_changed`` = the PRE-batch (url,
    block_key) rows of urls whose capture changed (None/empty for
    insert-only batches — the common crawl-append case). Every crossing
    lands in ``stats.grandfathered_blocks`` / ``grandfathered_pairs_est``
    so the drift is observable and a periodic full re-block reconciles.
    """
    d = delta_urls.select("url").distinct()
    # the batch is small relative to the corpus by construction, so its
    # url list rides a broadcast hash join; a mega-batch degrades to a
    # shuffle join via Catalyst's size estimate (hint, not forced broadcast)
    flagged = blocked_all.join(
        d.withColumn("d", F.lit(1)).hint("broadcast"), "url", "left"
    )
    members = _tag(flagged, 1, F.coalesce("d", F.lit(0)), 0)
    if prior_changed is not None:
        members = members.unionByName(_tag(prior_changed, 0, 0, 1))
    keep, n_joinable, n_hot = _admit(
        members, max_block_size, broadcast_threshold, prefix_caps, stats
    )
    member = _membership(blocked_all, keep, n_joinable, membership_broadcast_limit)
    dm = member.join(d.hint("broadcast"), "url")
    # a delta-delta pair is found from both sides: least/greatest orients
    # it, and the dedup tail folds the two copies
    a, b = F.col("a.url"), F.col("b.url")
    return _block_pairs(dm, member, n_hot, a != b, F.least(a, b), F.greatest(a, b))
