"""The benchmark's workloads. Each is a closed loop with one client: the
next pass starts only after the previous one returned.

A workload builds its inputs from the seed alone (``gen.synth``), warms
its own code path with one untimed pass, and then runs timed passes. A
pass returns an info dict; ``check`` raises ``CheckFailed`` when the
pass's output is wrong. Only the program calls inside a pass are timed;
output checks are not.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import time
from contextlib import nullcontext

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F

from mdmpublic_spark.evaluate import pairwise_scores
from mdmpublic_spark.gen.synth import generate_corpus
from mdmpublic_spark.incremental import incremental_update
from mdmpublic_spark.operators.dedup import minhash_lsh_candidates, minhash_lsh_pairs
from mdmpublic_spark.pipeline import run_pipeline
from mdmpublic_spark.queries.training_data import ORACLES
from mdmpublic_spark.tables import Table

# Corpus sizes. At this scale a pass is dominated by the fixed cost of
# its Spark jobs, so the sizes are set by the per-run time budget.
LINK_PAGES = 2000
NEAR_DUP_DOCS = 600
SLICE = 16  # the delta batch takes 1-in-16 url-hash slices
F1_FLOOR = 0.99


class CheckFailed(Exception):
    """A pass finished but its output is wrong."""


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def make_corpus(inputs: str, seed: int, n_pages: int) -> str:
    """Seeded corpus dir under ``inputs``, keyed on seed and size."""
    d = os.path.join(inputs, f"corpus-s{seed}-n{n_pages}")
    generate_corpus(d, n_pages=n_pages, seed=seed)
    return d


def url_slice(url: str) -> int:
    """Which 1-in-SLICE url-hash slice a url falls in."""
    return int.from_bytes(hashlib.sha1(url.encode()).digest()[:8], "big") % SLICE


def golden_digest(golden: DataFrame) -> str:
    rows = sorted(tuple(r) for r in golden.select("url", "cluster_id", "is_golden").collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


class Workload:
    name = ""
    pages = 0  # input pages (documents) per pass, for pages_per_s

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.n_pass = 0
        # the traced pass swaps this for Ledger.span
        self.span = lambda name, layer: nullcontext({})

    def setup(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Run the workload's own code path once, untimed, so JIT, codegen
        and the Python worker pool are warm before the timed loop."""
        self.cleanup(self.run_pass())

    def run_pass(self) -> dict:
        raise NotImplementedError

    def check(self, info: dict) -> None:
        raise NotImplementedError

    def dropped_pairs(self, info: dict) -> float:
        return 0.0

    def summary(self, infos: list[dict]) -> dict:
        return {}

    def cleanup(self, info: dict) -> None:
        if info.get("wd"):
            shutil.rmtree(info["wd"], ignore_errors=True)


class RelinkFold(Workload):
    """The linkage pipeline end to end: ``run_pipeline`` re-links the base
    corpus into a fresh work dir (every stage runs), then
    ``incremental_update`` folds one daily-crawl batch into that master.

    The batch holds an insert-only 1-in-16 url-hash slice of the corpus
    (new urls) and newer captures (``warc_ts`` + 1 day) of another 1-in-16
    slice of base urls, each carrying a different base page's html and
    text. The recaptures send every master table down the MERGE/rewrite
    path and make the cluster stage dissolve and replay clusters. Each
    pass builds its own master, so no pass sees an earlier pass's fold."""

    name = "relink_fold"

    def setup(self) -> None:
        corpus = make_corpus(self.inputs, self.seed, LINK_PAGES)
        pages = pq.read_table(os.path.join(corpus, "pages.parquet"))
        bucket = [url_slice(u) for u in pages.column("url").to_pylist()]
        base = pages.filter(pa.array([b != 0 for b in bucket]))
        insert = pages.filter(pa.array([b == 0 for b in bucket]))
        donors = pages.filter(pa.array([b == 1 for b in bucket])).sort_by("url")
        # recaptured url i carries the content of slice page i + n/2
        n = donors.num_rows
        swap = pa.array([(i + n // 2) % n for i in range(n)])
        day = datetime.timedelta(days=1)
        recaptured = pa.table(
            {
                "url": donors.column("url"),
                "warc_ts": pa.array(
                    [t + day for t in donors.column("warc_ts").to_pylist()],
                    donors.schema.field("warc_ts").type,
                ),
                "html": donors.column("html").take(swap),
                "text": donors.column("text").take(swap),
                "lang": donors.column("lang"),
            }
        )
        self.base_p = os.path.join(self.inputs, f"base-s{self.seed}.parquet")
        self.batch_p = os.path.join(self.inputs, f"batch-s{self.seed}.parquet")
        pq.write_table(base, self.base_p)
        pq.write_table(pa.concat_tables([insert, recaptured]), self.batch_p)
        self.n_base, self.n_insert, self.n_recaptured = (
            base.num_rows,
            insert.num_rows,
            recaptured.num_rows,
        )
        self.pages = self.n_base + self.n_insert + self.n_recaptured
        # labels stay true only for pairs whose pages kept their content
        moved = self.spark.createDataFrame(
            [(u,) for u in recaptured.column("url").to_pylist()], "url string"
        )
        self.labels = (
            self.spark.read.parquet(os.path.join(corpus, "labeled_pairs.parquet"))
            .join(moved.withColumnRenamed("url", "url_a"), "url_a", "left_anti")
            .join(moved.withColumnRenamed("url", "url_b"), "url_b", "left_anti")
        )
        self.digest = None

    def run_pass(self) -> dict:
        self.n_pass += 1
        wd = os.path.join(self.work, "passes", f"p{self.n_pass}")
        t0 = time.perf_counter()
        relink = run_pipeline(self.spark, self.base_p, wd, run_id=f"p{self.n_pass}")
        t1 = time.perf_counter()
        fold = incremental_update(self.spark, self.batch_p, wd)
        t2 = time.perf_counter()
        return {
            "wall": t2 - t0,
            "relink_s": t1 - t0,
            "fold_s": t2 - t1,
            "wd": wd,
            "relink": relink,
            "fold": fold,
        }

    def check(self, info: dict) -> None:
        relink, fold = info["relink"], info["fold"]
        golden = Table(relink["tables"]["golden"])
        n_relinked = relink["rows"]["golden"]
        _check(n_relinked == self.n_base, f"relink golden rows {n_relinked}")
        # the relink committed the golden table's first snapshot
        first = golden.history()[0].snapshot_id
        digest = golden_digest(golden.read(self.spark, snapshot_id=first))
        self.digest = self.digest or digest
        _check(digest == self.digest, "relink golden digest differs from the first pass")
        _check(fold["new_urls"] == self.n_insert, f"new_urls {fold['new_urls']} != {self.n_insert}")
        _check(
            fold["changed_urls"] == self.n_recaptured,
            f"changed_urls {fold['changed_urls']} != {self.n_recaptured}",
        )
        n_golden = golden.current().row_count
        _check(n_golden == self.n_base + self.n_insert, f"golden rows {n_golden}")
        clustered = golden.read(self.spark).select("url", "cluster_id")
        info["f1"] = pairwise_scores(self.labels, clustered)["f1"]
        _check(info["f1"] >= F1_FLOOR, f"pair F1 {info['f1']:.5f} < {F1_FLOOR}")

    def dropped_pairs(self, info: dict) -> float:
        return float(
            info["relink"]["pair_stats"]["dropped_pairs_est"]
            + info["fold"]["pair_stats"]["dropped_pairs_est"]
        )

    def summary(self, infos: list[dict]) -> dict:
        return {
            "pair_f1": [round(i["f1"], 5) for i in infos],
            "relink_s": [round(i["relink_s"], 3) for i in infos],
            "fold_s": [round(i["fold_s"], 3) for i in infos],
            # pair counts come from the stages' committed rows
            "relink_pairs": [i["relink"]["rows"]["pairs"] for i in infos],
            "fold_pairs": [i["fold"]["delta_pairs"] for i in infos],
            "pages": {
                "base": self.n_base,
                "insert": self.n_insert,
                "recaptured": self.n_recaptured,
            },
        }


def _canon_hash(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(tuple(int(v) for v in r) for r in rows):
        h.update(repr(row).encode())
    return h.hexdigest()


class NearDupSketch(Workload):
    """The two MinHash candidate passes of the near-dup family over the
    corpus text as a documents table, forced with the noop sink: the
    shingle sketch at its recall-1 banding (64 bands x 1 row, verified at
    shingle Jaccard 0.5) and the token-set sketch's candidate pass at
    8 x 8. No pipeline stage runs here."""

    name = "near_dup_sketch"
    pages = NEAR_DUP_DOCS

    def setup(self) -> None:
        corpus = make_corpus(self.inputs, self.seed, NEAR_DUP_DOCS)
        self.docs_p = os.path.join(self.inputs, f"documents-s{self.seed}.parquet")
        text = pq.read_table(os.path.join(corpus, "pages.parquet"), columns=["text"])
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(text.num_rows), pa.int64()),
                    "text": text.column("text"),
                }
            ),
            self.docs_p,
        )
        self.docs = self.spark.read.parquet(self.docs_p)
        self.rows = None
        self.oracle_rows = None

    def _shingle(self):
        return minhash_lsh_pairs(
            self.docs, threshold=0.5, n_bands=64, n_rows=1, verify="shingle"
        )

    def _token(self):
        return minhash_lsh_candidates(self.docs, n_bands=8, n_rows=8, sketch="token")

    def _force(self, name: str, df) -> int:
        obs = Observation(name)
        with self.span(name, "dedup") as rec:
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
            rec["rows"] = obs.get["rows"]
        return rec["rows"]

    def run_pass(self) -> dict:
        t0 = time.perf_counter()
        shingle = self._force("dd_minhash_pairs", self._shingle())
        token = self._force("dd_minhash_token_cands", self._token())
        return {"wall": time.perf_counter() - t0, "rows": (shingle, token)}

    def oracle_check(self) -> None:
        """Once per run: the shingle pass's rows hash-equal the DuckDB
        oracle's."""
        import duckdb

        spark_rows = self._shingle().select("id_a", "id_b", "inter_n", "union_n").collect()
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs_p}')"
            )
            oracle_rows = con.execute(
                "SELECT id_a, id_b, inter_n, union_n FROM "
                f"({ORACLES['dd_minhash_pairs']})"
            ).fetchall()
        finally:
            con.close()
        _check(
            _canon_hash(spark_rows) == _canon_hash(oracle_rows),
            "shingle pairs differ from the DuckDB oracle "
            f"({len(spark_rows)} vs {len(oracle_rows)} rows)",
        )
        self.oracle_rows = len(oracle_rows)

    def check(self, info: dict) -> None:
        shingle, _ = info["rows"]
        _check(shingle == self.oracle_rows, f"shingle rows {shingle} != oracle {self.oracle_rows}")
        self.rows = self.rows or info["rows"]
        _check(info["rows"] == self.rows, f"row counts {info['rows']} != first pass {self.rows}")

    def summary(self, infos: list[dict]) -> dict:
        return {"rows": [list(i["rows"]) for i in infos]}


WORKLOADS = {w.name: w for w in (RelinkFold, NearDupSketch)}
