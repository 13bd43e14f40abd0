"""ER/dedup queries over the driver's `documents` table.

Maps documents(doc_id, text, lang, source, n_chars) onto the page model
(url/text/domain) and reuses the pipeline operators unchanged — the
`source` column plays the normalized-domain role, doc ids are
zero-padded so lexicographic min == numeric min (deterministic cluster
ids, SURVEY.md §7.4 item 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mdmpublic_spark.operators.blocking import block_keys, common_shingles, stop_ids
from mdmpublic_spark.operators.clustering import connected_components
from mdmpublic_spark.operators.golden import assign_clusters, golden_records
from mdmpublic_spark.operators.pairs import candidate_pairs
from mdmpublic_spark.operators.scoring import (
    DEFAULT_THRESHOLD,
    match_edges,
    page_features,
    score_pairs,
)


def _padded(id_col: str):
    """Zero-padded string id, so lexicographic min == numeric min."""
    return F.lpad(F.col(id_col).cast("string"), 10, "0")


def documents_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").hint("rebalance")
    return docs.select(
        F.concat(
            F.lit("doc://"),
            F.col("source"),
            F.lit("/"),
            _padded("doc_id"),
        ).alias("url"),
        "text",
        "lang",
        "source",
    )


def embeddings_as_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings(vec_id, embedding) → (url, embedding) keyed by the same
    doc:// url scheme documents_as_pages builds (vec_id ≡ doc_id; the
    source segment comes from a broadcast-sized join with documents).
    Coverage may be PARTIAL (sf0.1 embeds 2000 of 5000 docs) — exactly
    the shape score_pairs' left-join/coalesce cosine arm is built for."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    return emb.join(docs, "doc_id").select(
        F.concat(
            F.lit("doc://"),
            F.col("source"),
            F.lit("/"),
            _padded("doc_id"),
        ).alias("url"),
        "embedding",
    )


def dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    use_embeddings: bool = False,
    w_cos: float = 0.1,
) -> DataFrame:
    """Full in-memory ER pass → (url, cluster_id) for every document.

    ``use_embeddings=True`` turns on the scoring cascade's optional
    embedding-cosine term (scoring.score_pairs ``embeddings``/``w_cos``):
    two extra scoped shuffle-hash left joins widen each pair with its
    vectors, the cosine is a JVM-side zip_with/aggregate fold, and
    missing embeddings contribute 0 — the blend gains w_cos·cos_emb for
    gated pairs. Benchmarked as ``er_dedup_cosine`` in bench.py; the
    numeric contract is pinned by tests/test_tables_and_pairs.py::
    test_score_pairs_optional_embedding_cosine."""
    pages = documents_as_pages(spark, sf_dir)
    stop_hashes, stop_hashes32 = stop_ids(
        common_shingles(pages, min_stop_df=20, stop_frac=0.01)
    )
    dom = pages.select(
        "url", F.concat(F.lit("d:"), F.col("source")).alias("block_key")
    )
    lsh = block_keys(pages, use_domain=False, use_lsh=True, stop_hashes=stop_hashes)
    blocked = dom.unionByName(lsh)
    pairs = candidate_pairs(blocked)
    feats = page_features(pages, stop_hashes32=stop_hashes32)
    emb = embeddings_as_urls(spark, sf_dir) if use_embeddings else None
    scored = score_pairs(pairs, feats, embeddings=emb, w_cos=w_cos)
    assign, _ = connected_components(match_edges(scored, threshold))
    return assign_clusters(pages, assign).select("url", "cluster_id")


def _exact_edges(docs: DataFrame) -> DataFrame:
    """Exact token-Jaccard ≥ 0.95 pairs (dedup.token_jaccard_pairs) as
    (src, dst) edges over zero-padded doc ids."""
    from mdmpublic_spark.operators.dedup import token_jaccard_pairs

    pairs = token_jaccard_pairs(docs, threshold=0.95)
    return pairs.select(_padded("id_a").alias("src"), _padded("id_b").alias("dst"))


def cc_jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components over an SQL-expressible edge set.

    The full pipeline's match edges come from MinHash + a scoring UDF
    cascade, which no SQL oracle can reproduce — so the iterative
    large-star/small-star operator (clustering.py) gets its own
    value-hash check here: edges = exact token-Jaccard ≥ 0.95 pairs
    (the same integer-exact join the dd_token_jaccard_pairs oracle
    already verifies), components solved by the DISTRIBUTED star loop
    (small_graph_threshold=0 disables the driver union-find shortcut so
    the shuffling path is what's checked), output = the complete
    (doc_id, cluster_id) assignment with cluster_id = min member id.
    The DuckDB oracle recomputes the same pairs and closes them with a
    recursive-CTE label propagation — transitive closure is exact at
    oracle scale, while the Spark side stays O(log n) rounds at any
    scale.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assign, _ = connected_components(_exact_edges(docs), small_graph_threshold=0)
    return assign.select(
        F.col("url").cast("bigint").alias("doc_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


CC_JACCARD_ORACLE = """
    WITH RECURSIVE d AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
    dfreq AS (SELECT tok, count(*) AS df FROM d GROUP BY tok),
    joinable AS (
      SELECT d.doc_id, d.tok FROM d JOIN dfreq USING (tok)
      WHERE dfreq.df > 1 AND dfreq.df <= 10000
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
      FROM joinable a JOIN joinable b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE inter_n * 20 >= 19 * (sa.n + sb.n - inter_n)
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
"""


def cluster_summary_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship's output SHAPE with a hash oracle: top-K duplicate-
    cluster summary (sizes + member ids) over the exact token-Jaccard
    ≥ 0.95 edge set — the SQL-expressible twin of dedup_cluster_summary
    (whose LSH-blocked + scoring-cascade edges no SQL engine can
    reproduce, hence its rows-only driver row). Singletons included via
    the same left-join/coalesce the flagship uses; ties broken by
    cluster_id so the LIMIT is deterministic on both engines. Exercises
    the ADAPTIVE connected-components path (driver union-find under the
    byte budget at oracle scale, distributed star loop above it) —
    er_cc_jaccard_clusters pins the distributed loop explicitly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assign, _ = connected_components(_exact_edges(docs))
    members = docs.select(
        _padded("doc_id").alias("url")
    )
    return (
        assign_clusters(members, assign)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.max("url").alias("max_doc"))
        .orderBy(F.desc("n_docs"), F.asc("cluster_id"))
        .limit(20)
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "n_docs",
            F.col("max_doc").cast("bigint").alias("max_doc"),
        )
    )


CLUSTER_SUMMARY_EXACT_ORACLE = """
    WITH RECURSIVE d AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
    dfreq AS (SELECT tok, count(*) AS df FROM d GROUP BY tok),
    joinable AS (
      SELECT d.doc_id, d.tok FROM d JOIN dfreq USING (tok)
      WHERE dfreq.df > 1 AND dfreq.df <= 10000
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
      FROM joinable a JOIN joinable b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE inter_n * 20 >= 19 * (sa.n + sb.n - inter_n)
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    assigned AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
    everyone AS (
      SELECT d.doc_id, coalesce(a.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN assigned a USING (doc_id)
    )
    SELECT cluster_id, count(*) AS n_docs, max(doc_id) AS max_doc
    FROM everyone GROUP BY cluster_id
    ORDER BY n_docs DESC, cluster_id ASC LIMIT 20
"""


def golden_records_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-6 survivorship with a hash oracle: golden-record selection
    (operators/golden.py — the reference's staging→master promotion of
    the surviving record, SURVEY.md §3.4) over the exact token-Jaccard
    ≥ 0.95 cluster assignment. The survivor per cluster is the FULLEST
    record (max n_chars, ties by min doc_id — golden_records'
    freshness ordering with n_chars standing in for warc_ts on the
    documents table). Output: one row per cluster — singletons included
    via the same assign_clusters left-join/coalesce the pipeline uses —
    with the cluster size and the surviving doc's id and length.

    Scale shape: identical to the pipeline's golden stage — one uniform
    left join (docs ⨝ assignment on id) and one window over cluster_id;
    pair-capping bounds duplicate-cluster sizes so the window partition
    never skews."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assign, _ = connected_components(_exact_edges(docs))
    members = docs.select(
        _padded("doc_id").alias("url"), "n_chars"
    )
    clustered = assign_clusters(members, assign)
    flagged = golden_records(clustered, freshness_col="n_chars")
    sizes = clustered.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        flagged.where(F.col("is_golden"))
        .join(sizes, "cluster_id")
        .select(
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            "n_docs",
            F.col("url").cast("bigint").alias("golden_doc"),
            F.col("n_chars").alias("golden_chars"),
        )
    )


GOLDEN_RECORDS_ORACLE = """
    WITH RECURSIVE d AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
    dfreq AS (SELECT tok, count(*) AS df FROM d GROUP BY tok),
    joinable AS (
      SELECT d.doc_id, d.tok FROM d JOIN dfreq USING (tok)
      WHERE dfreq.df > 1 AND dfreq.df <= 10000
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter_n
      FROM joinable a JOIN joinable b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE inter_n * 20 >= 19 * (sa.n + sb.n - inter_n)
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    assigned AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
    everyone AS (
      SELECT d.doc_id, d.n_chars, coalesce(a.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN assigned a USING (doc_id)
    ),
    ranked AS (
      SELECT cluster_id, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY cluster_id) AS n_docs
      FROM everyone
    )
    SELECT cluster_id, n_docs, doc_id AS golden_doc, n_chars AS golden_chars
    FROM ranked WHERE rn = 1
"""


def link_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source record linkage (dedup.cross_jaccard_pairs): odd
    doc_ids play the staging side, even doc_ids the master side, and the
    R-S prefix-filtered inverted-list join emits every cross pair at
    token-Jaccard ≥ 0.8 — the staging→master candidate-match step of the
    MDM promotion lifecycle, with NO same-side pairs generated. The
    DuckDB oracle recomputes the naive A×B inverted-list join."""
    from mdmpublic_spark.operators.dedup import cross_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staging = docs.where(F.col("doc_id") % 2 == 1)
    master = docs.where(F.col("doc_id") % 2 == 0)
    return cross_jaccard_pairs(staging, master, threshold=0.8).select(
        F.col("id_a").alias("staging_id"),
        F.col("id_b").alias("master_id"),
        "inter_n",
        "union_n",
    )


LINK_SOURCES_ORACLE = """
    WITH d AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
    dfreq AS (SELECT tok, count(*) AS df FROM d GROUP BY tok),
    inter AS (
      SELECT a.doc_id AS staging_id, b.doc_id AS master_id, count(*) AS inter_n
      FROM d a JOIN d b ON a.tok = b.tok
      JOIN dfreq f ON f.tok = a.tok
      WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND f.df <= 10000
      GROUP BY 1, 2
    )
    SELECT staging_id, master_id, inter_n,
           sa.n + sb.n - inter_n AS union_n
    FROM inter
    JOIN sz sa ON sa.doc_id = staging_id
    JOIN sz sb ON sb.doc_id = master_id
    WHERE inter_n * 5 >= 4 * (sa.n + sb.n - inter_n)
"""


def dedup_cluster_summary(
    spark: SparkSession, sf_dir: str, use_embeddings: bool = False
) -> DataFrame:
    """Flagship top-K: largest duplicate clusters (singletons included so the
    result is non-empty on a duplicate-free corpus)."""
    clustered = dedup_clusters(spark, sf_dir, use_embeddings=use_embeddings)
    return (
        clustered.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("url").alias("example_doc"))
        .orderBy(F.desc("n_docs"), F.asc("cluster_id"))
        .limit(20)
    )
