"""Unit tests for the dependency-free similarity metrics."""

from __future__ import annotations

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mdmpublic_spark.functions.hashing import (
    NUM_PERM,
    minhash_signature_u64,
    rolling_fingerprint,
    simhash64,
)
from mdmpublic_spark.functions.similarity import (
    hamming64,
    jaro_winkler,
    levenshtein,
    levenshtein_ratio,
)


def test_levenshtein_known():
    assert levenshtein("kitten", "sitting") == 3
    assert levenshtein("", "abc") == 3
    assert levenshtein("abc", "abc") == 0
    assert levenshtein("flaw", "lawn") == 2


def _lev_ref(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a):
        cur = [i + 1]
        for j, cb in enumerate(b):
            cur.append(min(prev[j + 1] + 1, cur[j] + 1, prev[j] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=20), st.text(max_size=20))
def test_levenshtein_matches_reference_dp(a, b):
    assert levenshtein(a, b) == _lev_ref(a, b)


def test_jaro_winkler_known():
    # classic published examples
    assert abs(jaro_winkler("MARTHA", "MARHTA") - 0.9611) < 1e-3
    assert abs(jaro_winkler("DWAYNE", "DUANE") - 0.84) < 1e-2
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("", "") == 1.0
    assert jaro_winkler("a", "") == 0.0


def _hashed(ids) -> np.ndarray:
    """Set elements as the signature kernel sees them: uniform 64-bit
    hashes (the JVM's signed xxhash64 output, reinterpreted as uint64)."""
    return np.asarray(
        [int.from_bytes(hashlib.sha256(str(i).encode()).digest()[:8], "big") for i in ids],
        dtype=np.uint64,
    )


def test_minhash_similarity_tracks_jaccard():
    base = list(range(100))
    near = base[:90] + list(range(1000, 1010))
    far = list(range(2000, 2100))
    s0, s1, s2 = (minhash_signature_u64(_hashed(x)) for x in (base, near, far))
    agree_near = sum(a == b for a, b in zip(s0, s1)) / len(s0)
    agree_far = sum(a == b for a, b in zip(s0, s2)) / len(s0)
    assert agree_near > 0.6  # true jaccard ≈ 0.82
    assert agree_far < 0.2


def test_minhash_deterministic_and_order_free():
    a = minhash_signature_u64(_hashed([7, 8, 9]))
    b = minhash_signature_u64(_hashed([9, 7, 8]))
    assert a == b and len(a) == NUM_PERM
    assert all(-(1 << 63) <= v < (1 << 63) for v in a)  # Spark LongType range
    assert minhash_signature_u64(_hashed([])) == [0] * NUM_PERM


def test_simhash_near_duplicates_close():
    base = [f"tok{i}" for i in range(100)]
    near = base[:95] + ["a", "b", "c", "d", "e"]
    far = [f"zzz{i}" for i in range(100)]
    assert hamming64(simhash64(base), simhash64(near)) < 12
    assert hamming64(simhash64(base), simhash64(far)) > 20


def test_fingerprint_deterministic():
    assert rolling_fingerprint("hello world " * 10) == rolling_fingerprint("hello world " * 10)
    assert levenshtein_ratio("abcd", "abcd") == 1.0
