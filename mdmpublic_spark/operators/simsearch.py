"""Similarity search over embedding columns (array<float>).

Three paths, per the task brief:
  * brute-force cosine top-k — the exactness baseline. Query set is
    broadcast (it is small by definition); the corpus side streams, so
    the plan is a BroadcastNestedLoopJoin + per-query top-k window —
    no shuffle of the corpus. Dot products run JVM-side via
    ``aggregate(zip_with(...))`` (no Python crossing).
  * random-hyperplane LSH buckets — the scale path: sign-pattern of h
    deterministic hyperplanes (seeded from sha256, partition-
    independent) buckets vectors; candidates share a bucket; exact
    cosine re-ranks within buckets only. Recall is tunable via number
    of hyperplane tables; candidate volume drops ~2^h per table.

  * IVF (inverted-file) coarse quantization — the alternative scale
    path: a deterministic sample of corpus vectors acts as centroids;
    every vector is assigned to its nearest centroid (one broadcast
    pass, map-side-combined ``max_by`` — the corpus is never window-
    shuffled); a query probes its ``n_probe`` nearest cells and exact
    cosine re-ranks inside them. Candidate volume per query ≈
    n_probe·n/n_centroids, the classic IVF recall/cost dial.

Embedding-cosine *near-duplicate* detection (dedup flavor) is the
same bucket join with a threshold instead of top-k.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F


def _norm_col(vec):
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def cosine_expr(a, b):
    """Cosine similarity of two array<float> columns, JVM-side."""
    return _dot(a, b) / (_norm_col(a) * _norm_col(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For every query vector: the k nearest corpus vectors by cosine.

    Output (query_id, neighbor_id, rank). Self-matches excluded.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    scored = (
        c.crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", cosine_expr(F.col("qvec"), F.col("cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _hyperplanes(n_planes: int, dim: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: unit-free gaussian-ish
    values seeded from sha256(table, plane, coord) — identical at any
    parallelism, reproducible from source alone."""
    planes = []
    for p in range(n_planes):
        row = []
        for d_ in range(dim):
            h = hashlib.sha256(f"mdm-hyperplane-{table}-{p}-{d_}".encode()).digest()
            # map 8 bytes to (-1, 1) uniformly; adequate for sign tests
            v = int.from_bytes(h[:8], "big") / 2**63 - 1.0
            row.append(v)
        planes.append(row)
    return planes


def hyperplane_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    table: int = 0,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a `bucket` column = sign pattern of the vector against
    ``n_planes`` fixed hyperplanes (one LSH table)."""
    planes = _hyperplanes(n_planes, dim, table)
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in planes[p]])
        bits.append(
            F.when(_dot(F.col(vec_col), plane) >= 0, F.lit(1)).otherwise(F.lit(0))
        )
    bucket = F.concat_ws("", *[b.cast("string") for b in bits])
    return df.withColumn("bucket", F.concat(F.lit(f"t{table}:"), bucket))


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 3,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN: union of ``n_tables`` hyperplane-bucket joins,
    exact cosine re-rank within the candidate set.

    At corpus scale the bucket join shuffles only (id, vector, bucket)
    rows and each bucket holds ~|corpus|/2^n_planes vectors per table.
    Defaults (3×8 → recall ≈ 0.8 on the 64-dim fixtures) suit small
    corpora; scale ``n_planes`` up with corpus size (bucket occupancy
    ≈ n/2^planes is the knob that bounds candidate volume) and
    ``n_tables`` up with the recall target.
    """
    cand = None
    for t in range(n_tables):
        cb = hyperplane_bucket(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")),
            dim, n_planes, t, "cvec",
        )
        qb = hyperplane_bucket(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
            dim, n_planes, t, "qvec",
        )
        j = cb.join(qb, "bucket").where(F.col("neighbor_id") != F.col("query_id"))
        cand = j if cand is None else cand.unionByName(j)
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.withColumn("cos", cosine_expr(F.col("qvec"), F.col("cvec")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_centroids`` corpus
    vectors with the smallest ``xxhash64(id)`` — a uniform,
    partitioning-independent sample (identical at any parallelism, so
    the repo's determinism invariant holds bit-exactly).

    No Lloyd refinement on purpose: k-means averaging sums floats in
    partition order, which would make centroids — and therefore cell
    assignments — vary run to run. A hash sample of real corpus points
    is deterministic, never produces an empty cell, and at web scale
    the assignment pass (one dot product per vector per centroid)
    dominates total cost regardless of centroid quality.

    Output: (centroid_id, cvec) with centroid_id = dense 0..n-1 rank.

    The sample is an ``orderBy(hash).limit(n)`` — Spark plans it as
    TakeOrderedAndProject (per-partition top-n, merge of only n rows),
    NOT a global sort; the single-partition window that ranks the
    survivors runs over n_centroids rows only.
    """
    hashed = corpus.select(
        F.xxhash64(F.col(id_col).cast("string")).alias("_h"),
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("cvec"),
    ).orderBy("_h", "_id").limit(n_centroids)
    w = Window.orderBy("_h", "_id")
    return hashed.select(
        (F.row_number().over(w) - 1).alias("centroid_id"), "cvec"
    )


def _assign_cells(
    df: DataFrame, cents: DataFrame, n_probe: int, id_alias: str, vec_alias: str
) -> DataFrame:
    """(id, vec) × broadcast(centroids) → the ``n_probe`` nearest cells
    per vector: (id, vec, centroid_id).

    The corpus side (n_probe=1) never hits a window: the broadcast
    cross join emits the per-centroid scores partition-locally and
    ``max_by`` collapses them with map-side partial aggregation, so the
    shuffle carries one row per vector, not one per (vector, centroid).
    Ties break to the smallest centroid_id (struct max on (cos, -cid))
    — deterministic at any parallelism.
    """
    scored = df.crossJoin(F.broadcast(cents)).withColumn(
        "_cos", cosine_expr(F.col(vec_alias), F.col("cvec"))
    )
    if n_probe == 1:
        best = F.max_by(
            F.col("centroid_id"), F.struct(F.col("_cos"), -F.col("centroid_id"))
        )
        return scored.groupBy(id_alias, vec_alias).agg(best.alias("centroid_id"))
    w = Window.partitionBy(id_alias).orderBy(F.desc("_cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("_pr", F.row_number().over(w))
        .where(F.col("_pr") <= n_probe)
        .select(id_alias, vec_alias, "centroid_id")
    )


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate NN via IVF: assign corpus vectors to their nearest
    centroid cell, probe each query's ``n_probe`` nearest cells, exact
    cosine re-rank within the probed cells only.

    Output (query_id, neighbor_id, rank); self-matches excluded.
    With ``n_probe == n_centroids`` every cell is probed, so the result
    is exactly ``brute_force_topk`` (the property the tests pin); below
    that, recall degrades gracefully as cells are skipped while per-
    query work drops to ~n_probe/n_centroids of the corpus.

    Scale shape: centroids are a broadcast (n_centroids ≪ corpus);
    the corpus is scanned once for assignment and shuffled once on
    centroid_id for the probe join — both keyed, partial-aggregated,
    skew-bounded by cell occupancy ≈ n/n_centroids (raise n_centroids
    with corpus size to hold cell size constant, √n is the classic
    choice). No all-pairs join anywhere.
    """
    cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec2"))
    cells = _assign_cells(c, cents, 1, "neighbor_id", "cvec2")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    probes = _assign_cells(q, cents, n_probe, "query_id", "qvec")
    cand = (
        cells.join(probes, "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", cosine_expr(F.col("qvec"), F.col("cvec2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 4,
    n_tables: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup flavor): distinct
    unordered pairs with cosine ≥ threshold.

    Scale path: hyperplane-bucket self-join per LSH table (equi-join on
    the bucket key — never an all-pairs cross join), exact cosine verify
    on candidates only. A pair at cosine ≥ t (angle θ = arccos t) lands
    in the same bucket of one table with probability (1-θ/π)^n_planes;
    missing all ``n_tables`` tables at t=0.95 with the defaults has
    probability ≈ 2·10⁻⁴ — raise ``n_tables`` for stricter recall,
    raise ``n_planes`` with corpus size to bound bucket occupancy
    (≈ n/2^planes rows per bucket per table).
    """
    if dim is None:
        # one tiny driver job; callers that know the dimension pass it
        dim = vectors.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    cand = None
    for t in range(n_tables):
        vb = hyperplane_bucket(
            vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
            dim, n_planes, t, "vec",
        )
        a = vb.select(F.col("vid").alias("id_a"), F.col("vec").alias("va"), "bucket")
        b = vb.select(F.col("vid").alias("id_b"), F.col("vec").alias("vb"), "bucket")
        j = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
        cand = j if cand is None else cand.unionByName(j)
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .where(cosine_expr(F.col("va"), F.col("vb")) >= threshold)
        .select("id_a", "id_b")
    )
