"""Deterministic text extraction + normalization (SURVEY.md §2.10).

The BASELINE invariant is *byte-identical extracted text per url* across runs
and parallelism levels, so everything here is a pure function of the input
bytes: no locale, no wall clock, no dict-ordering hazards, no external C
library whose version could drift. Reference behavior being reproduced: the
MDM staging→master document flow canonicalizes records before matching
(closed engine, config-visible only — see SURVEY.md §3.4); the executable
analog in the reference is its regex field-carving + whitespace collapsing
(/root/reference/python/tcp_port_scan/tcp_port_scan.py:49-51,
 /root/reference/jenkins_scripts/report/ssh_login_report.sh:152-178).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# --- pure string functions (usable from both the generator and the UDFs) ---

_SCRIPT_STYLE_RE = re.compile(r"<(script|style)\b[^>]*>.*?</\1\s*>", re.S | re.I)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")
# fixed, ordered entity table — a dict literal keeps insertion order in
# Python 3.7+, so replacement order is deterministic
_ENTITIES = {
    "&nbsp;": " ",
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
}


def extract_text_str(html: str) -> str:
    """HTML → visible text. Pure, byte-deterministic."""
    s = _SCRIPT_STYLE_RE.sub(" ", html)
    s = _COMMENT_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for ent, rep in _ENTITIES.items():
        s = s.replace(ent, rep)
    return _WS_RE.sub(" ", s).strip()


_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title\s*>", re.S | re.I)


def extract_title_str(html: str, max_chars: int = 200) -> str:
    """<title> contents → cleaned text (pure, byte-deterministic).

    Scoring compares *real* titles, never a text prefix: a prefix proxy
    drags shared navigation boilerplate into the similarity window and
    inflates Jaro-Winkler between unrelated same-template pages."""
    m = _TITLE_RE.search(html)
    if not m:
        return ""
    s = _TAG_RE.sub(" ", m.group(1))
    for ent, rep in _ENTITIES.items():
        s = s.replace(ent, rep)
    return _WS_RE.sub(" ", s).strip()[:max_chars]


# --- vectorized (Arrow) UDFs ---


_PAGE_SCHEMA = StructType(
    [StructField("text", StringType()), StructField("title", StringType())]
)


@F.pandas_udf(_PAGE_SCHEMA)
def extract_page(html: pd.Series) -> pd.DataFrame:
    """text + title in ONE Arrow crossing — separate UDFs ship every html
    blob through Arrow twice (html is the widest column in the pipeline)."""
    def both(b: bytes) -> tuple[str, str]:
        s = b.decode("utf-8", errors="replace")
        return extract_text_str(s), extract_title_str(s)

    text, title = zip(*html.map(both)) if len(html) else ((), ())
    return pd.DataFrame({"text": list(text), "title": list(title)})


# --- native-function helpers (JVM-side, codegen'd — preferred hot path) ---


def tokens_expr(text_col, max_tokens: int | None = None):
    """JVM tokenization: lowercase, split on non-alnum runs, drop empties
    (split/filter/slice stay in codegen)."""
    toks = F.filter(
        F.split(F.lower(text_col), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    return F.slice(toks, 1, max_tokens) if max_tokens else toks


def token_hashes_expr(toks_attr):
    """xxhash64 of each token of a **materialized** token-array column —
    each token's string is hashed exactly once; all downstream shingle
    work is long arithmetic."""
    return F.transform(toks_attr, lambda t: F.xxhash64(t))


def shingle_hashes_from_token_hashes(th_attr):
    """Distinct 64-bit shingle ids of the 3-word shingles, computed from a
    **materialized** token-hash array (see ``token_hashes_expr``) — no
    shingle string is ever built and no token string is hashed twice.

    ``th_attr`` MUST be a plain column reference, not a composite
    expression: ``F.get(expr, i)`` inside the transform lambda
    re-evaluates ``expr`` per element — O(n²) per row (measured 10x stage
    blowup). Project the array into its own select first; a multiply-
    referenced non-trivial alias survives CollapseProject.

    ``xxhash64(h_i, h_{i+1}, h_{i+2})`` chains the three 8-byte token
    hashes (no concat ambiguity — tokens hash individually). String
    shingles left profile/block/features allocation-bound at 32 local
    cores (GC-limited, near-zero 8→32 scaling at 800k pages); this keeps
    the whole map side in primitive longs. n<3 → the whole token stream
    as one shingle (chain of all its hashes, here n ∈ {1,2}); empty →
    empty.

    This is THE shingle identity: the stop-shingle profile, LSH
    blocking, scoring suppression and the near-dup shingle sketch and
    verify (operators/dedup.py) all derive from this function, so a
    shingle's 64-bit id has one definition everywhere.
    """
    n = F.size(th_attr)
    return F.array_distinct(
        F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(0), n - 3),
                lambda i: F.xxhash64(
                    F.get(th_attr, i),
                    F.get(th_attr, i + 1),
                    F.get(th_attr, i + 2),
                ),
            ),
        )
        .when(n == 2, F.array(F.xxhash64(F.get(th_attr, 0), F.get(th_attr, 1))))
        .when(n == 1, F.array(F.xxhash64(F.get(th_attr, 0))))
        .otherwise(F.array().cast("array<bigint>"))
    )


def norm_domain(url_col):
    """Normalized domain: host of the url, lowercased, `www.` stripped.

    Stays inside whole-stage codegen (parse_url/lower/regexp_replace are
    built-ins) — this is the cheap first-pass blocking key.
    """
    host = F.parse_url(url_col, F.lit("HOST"))
    return F.regexp_replace(F.lower(host), r"^www\.", "")


def title_expr(text_col, n: int = 80):
    """First n chars of the extracted text — the cheap 'title' proxy used by
    the string-similarity scorers (short strings keep Levenshtein O(n²) tiny)."""
    return F.substring(text_col, 1, n)
