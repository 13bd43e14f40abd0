"""Stage 5 — transitive clustering: large-star/small-star connected components.

Algorithm: Kiveris et al., "Connected Components in MapReduce and
Beyond" (SoCC'14; see PAPERS.md) — alternating large-star/small-star
rounds converge in O(log n) iterations even on path graphs, vs O(n)
for naive label propagation. Every operation is a DataFrame
groupBy/join; no RDDs, no driver-side graph.

Determinism (SURVEY.md §7.4 item 5): node ids are the page urls and the
component representative is the lexicographic **min url** — a pure
function of the edge set, independent of partitioning, so cluster ids
are stable across runs and parallelism levels (never
monotonically_increasing_id()).

Scale notes:
  * each round is two shuffles (groupBy min + join), both on the node
    key; AQE coalesces small rounds as components collapse.
  * ``localCheckpoint`` after every round truncates the logical plan —
    without it the plan doubles per iteration and Catalyst analysis
    time explodes (SURVEY.md §4.2 item 3).
  * convergence test = count + order-insensitive checksum
    (bit_xor(xxhash64(u,v))) — two scalar aggregates, no data collect.

Reference analog: merge/promote of matched records into the `master`
bucket as one golden record (/root/reference §3.4 lifecycle; buckets at
chef/setup_jenkins/jenkins_jobs/DeploySystem/config.xml:105-107).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ⁺(u))."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", F.col("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient u>v; connect all smaller neighbors of u (and u) to min(Γ(u))."""
    o = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = o.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfs = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        nbrs.unionByName(selfs).where(F.col("u") != F.col("v")).distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-insensitive, cannot overflow under ANSI mode
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _union_find_assign(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find with path compression; returns node →
    min-node-of-component (same contract as the distributed loop)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: the smaller id becomes the root, so the root
            # IS the component representative — deterministic
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent} | {
        x: find(x) for uv in pairs for x in uv
    }


# Python-side cost of one collected edge: two str objects (~49 B header
# each) + the pair tuple + the union-find parent-dict entries the pair
# induces. Measured with sys.getsizeof on 60-80 char url pairs: ~230-260 B
# fixed + the url payload itself.
_EDGE_FIXED_OVERHEAD = 240
_MAX_CC_ROUNDS = 25  # star rounds are O(log n); this stops a non-converging loop


def _ckpt_rdd(df: DataFrame):
    """The JVM RDD a localCheckpoint pinned, taken from the DataFrame's
    own LogicalRDD plan node — an exact ownership handle.  (Diffing
    sparkContext.getPersistentRDDs before/after, the previous scheme,
    races with any other thread persisting in the same session: their
    RDDs land in the diff and get unpersisted — breaking a concurrent
    job's cache, or worse its lineage-truncated localCheckpoint.)"""
    return df._jdf.queryExecution().analyzed().rdd()


def connected_components(
    edges: DataFrame,
    small_graph_threshold: int = 2_000_000,
    edge_count: int | None = None,
    driver_collect_budget_bytes: int = 256 << 20,
) -> tuple[DataFrame, int]:
    """edges(src,dst) → assignments(url, cluster_id); returns (df, rounds).

    cluster_id = min url of the component. Only nodes that appear in an
    edge are assigned; callers give singletons their own url as id
    (golden.py does this with one left join + coalesce).

    **Adaptive strategy** (the CC analog of a broadcast join): when the
    distinct edge count is at most ``small_graph_threshold`` AND the
    estimated driver footprint (count × (avg url-pair bytes +
    ``_EDGE_FIXED_OVERHEAD``)) fits ``driver_collect_budget_bytes``
    (default 256 MB), the edge list is collected and solved with
    driver-side union-find — exact, deterministic (identical min-url
    representatives), and free of the per-round shuffle floor that
    dominates the distributed loop on small graphs. The bytes gate is
    the binding one: 2M edges of 80-char urls would be GB-class driver
    heap with dict overhead, so the count threshold alone is
    memory-optimistic. Larger graphs run the large-star/small-star
    loop, whose round count is O(log n) regardless of size. Pass
    ``edge_count`` (an upper bound is fine, e.g. the scored-pair row
    count from the stage manifest) to skip the sizing job. Rounds
    returned is 0 for the union-find path.

    Convergence is checked after every star round: each shuffle stage is
    an AQE materialization, so fusing rounds per check would save no
    stage floors and add overshoot rounds.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # Each localCheckpoint pins its partitions in executor STORAGE memory
    # for the life of the session unless freed. A long CC run checkpoints
    # every checked round, so without cleanup the loop would hold every
    # generation simultaneously — executor OOM at scale, and leaked
    # storage across queries in a long-lived application. After each new
    # generation materializes, we free every generation this call created
    # except the newest, so peak pinned storage is ≤ 2 generations
    # regardless of round count.
    # The FINAL generation is the caller's: the returned assignment plan
    # reads it, so it stays pinned until the caller drops the DataFrame
    # (or releases job state, as bench.py does between queries).
    # Ownership is exact: we keep a handle to each generation's own
    # checkpointed RDD (via its LogicalRDD plan node, _ckpt_rdd) and
    # unpersist only those — never a global persistent-RDD diff, which
    # would race with concurrent persists by other threads in the session.
    owned: list = []  # this call's checkpoint generations, oldest first

    def _own(df: DataFrame) -> DataFrame:
        owned.append(_ckpt_rdd(df))
        return df

    def _drop_stale() -> None:
        # called only after the newest generation is fully materialized
        while len(owned) > 1:
            owned.pop(0).unpersist(False)

    if edge_count is None or edge_count <= small_graph_threshold:
        # eager localCheckpoint: the sizing agg drives the strategy and
        # the checkpointed edges feed whichever path wins without a rescan
        e = _own(e.localCheckpoint(eager=True))
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.length("u") + F.length("v")).alias("pair_len"),
        ).first()
        n_edges = int(row["n"])
        est_bytes = n_edges * (float(row["pair_len"] or 0.0) + _EDGE_FIXED_OVERHEAD)
        if n_edges <= small_graph_threshold and est_bytes <= driver_collect_budget_bytes:
            assign = _union_find_assign(
                [(r["u"], r["v"]) for r in e.collect()]
            )
            # from pandas, the frame crosses as Arrow batches; a row list
            # would run Python worker tasks to build it
            out = e.sparkSession.createDataFrame(
                pd.DataFrame(list(assign.items()), columns=["url", "cluster_id"]),
                "url string, cluster_id string",
            )
            # edges now live in the driver dict; the checkpoint blocks
            # serve nothing — free them instead of leaking per call
            for r in owned:
                r.unpersist(False)
            return out, 0
    else:
        # eager=False: the checkpoint materializes inside the checksum
        # action — one Spark job per checked round instead of two.
        e = _own(e.localCheckpoint(eager=False))
    prev = _checksum(e)
    rounds = 0
    for rounds in range(1, _MAX_CC_ROUNDS + 1):
        e2 = _small_star(_large_star(e))
        e2 = _own(e2.localCheckpoint(eager=False))
        cur = _checksum(e2)
        e = e2
        # e2's generation is fully materialized (the checksum action
        # computed every partition), so all older generations are dead
        _drop_stale()
        if cur == prev:
            break
        prev = cur
    # converged star graph: every edge is (node u) -> (root v), u > v
    assign = e.select(F.col("u").alias("url"), F.col("v").alias("cluster_id")).unionByName(
        e.select(F.col("v").alias("url"), F.col("v").alias("cluster_id"))
    )
    return assign.distinct(), rounds
