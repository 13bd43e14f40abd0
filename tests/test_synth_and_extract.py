"""Generator determinism + byte-identical extraction (BASELINE.md invariants)."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow.parquet as pq

from mdmpublic_spark.functions.text import extract_text_str
from mdmpublic_spark.gen.synth import generate_corpus


def _dir_hash(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        tbl = pq.read_table(os.path.join(d, name))
        h.update(name.encode())
        for col in sorted(tbl.column_names):
            for chunk in tbl.column(col).chunks:
                h.update(str(chunk.to_pylist()).encode())
    return h.hexdigest()


def test_regeneration_is_byte_identical(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    stats1 = generate_corpus(a, n_pages=500)
    stats2 = generate_corpus(b, n_pages=500)
    assert stats1 == stats2
    assert _dir_hash(a) == _dir_hash(b)


def test_stored_text_matches_extraction(corpus_dir):
    """pages.text was produced by extract_text_str at generation time; a
    fresh pass over the html bytes must reproduce it byte-for-byte."""
    tbl = pq.read_table(os.path.join(corpus_dir, "pages.parquet"))
    htmls = tbl.column("html").to_pylist()
    texts = tbl.column("text").to_pylist()
    for html, text in zip(htmls, texts):
        assert extract_text_str(html.decode("utf-8")) == text


def test_extraction_strips_markup():
    html = (
        '<html><head><title>T &amp; U</title><script>x&lt;1</script>'
        "<style>p{}</style></head><body><p>Hello&nbsp;world</p><!-- c --></body></html>"
    )
    assert extract_text_str(html) == "T & U Hello world"


def test_labeled_pairs_consistent_with_clusters(corpus_dir):
    con = duckdb.connect()
    bad = con.execute(
        f"""
        SELECT count(*) FROM '{corpus_dir}/labeled_pairs.parquet' p
        JOIN '{corpus_dir}/expected_clusters.parquet' ca ON p.url_a = ca.url
        JOIN '{corpus_dir}/expected_clusters.parquet' cb ON p.url_b = cb.url
        WHERE p.is_match != (ca.cluster_id = cb.cluster_id)
        """
    ).fetchone()[0]
    assert bad == 0
