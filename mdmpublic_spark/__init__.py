"""mdmpublic_spark — a PySpark-native MDM record-linkage / analytics engine.

Built from scratch against the behavioral surface of the reference ops repo
``linearregression/mdmpublic`` (read-only at /root/reference): blocking +
pairwise scoring + transitive clustering over Common-Crawl-style web pages,
plus the relational/ETL operator inventory in SURVEY.md §2, re-expressed
Spark-first (DataFrame/Catalyst/AQE, Arrow-vectorized pandas UDFs — no RDDs,
no per-row Python in hot paths).

Layout:
  session      — tuned SparkSession factory
  tables       — snapshot-table IO (parquet + JSON log; iceberg.py is the real backend)
  gen/         — deterministic synthetic `pages` corpus + ground-truth labels
  functions/   — text extraction, similarity metrics, hashing (minhash/simhash)
  operators/   — blocking, candidate pairs, scoring, connected components,
                 golden records, dedup, similarity search, text analysis
  plans/       — relational operator inventory (SURVEY.md §2) + flagship query
  pipeline/    — checkpoint/resumable stage runner + metrics lineage
  streaming/   — structured-streaming monitors (file-change analog)
"""

import os

__version__ = "0.1.0"

if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:  # only a Spark Python worker
    # pyspark's setup_spark_files calls importlib.invalidate_caches() before
    # every task, and under CPython 3.11 each zipimporter on sys.path
    # (pyspark.zip, py4j, the package zip) then re-reads its archive's
    # directory: 46.2 of 48.8 s of a profiled worker. Those zips do not change
    # while the worker lives: Spark refuses to replace an added file
    # (SparkContext.addFile "has been added already", Utils.copyFile "exists
    # and does not match contents of" unless spark.files.overwrite), and a new
    # path gets a new zipimporter. Directory finders are still invalidated.
    # A fresh worker's first task still pays: the hook lands on first import.
    import zipimport

    zipimport.zipimporter.invalidate_caches = lambda self: None
