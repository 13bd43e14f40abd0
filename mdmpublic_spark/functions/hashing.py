"""MinHash / SimHash / fingerprint functions — deterministic, vectorized.

Determinism contract (SURVEY.md §7.4 item 5): every hash seed is a fixed
constant derived from the permutation index, never from partitioning, time,
or ``rand()`` — signatures are a pure function of the token multiset, so the
same page gets the same LSH keys at local[8] and local[32].

Reference analog: the MDM engine blocks match candidates via an inverted
index (`mdm_index`, /root/reference/chef/setup_jenkins/jenkins_jobs/
CollectFiles/config.xml:32); md5-derived names appear at
/root/reference/python/db_backup/es_backup.py:61. Our MinHash-LSH band keys
play that index's role (SURVEY.md §1.1).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# All signature arithmetic is numpy uint64 with wraparound (no modulus):
# well-defined and identical on every platform, and it sidesteps Spark's
# ANSI overflow checks by staying out of SQL.
_U64 = np.uint64

NUM_PERM = 64  # minhash signature length
# 21 bands × 3 rows (63 of 64 perms): calibrated on the labeled fixtures —
# 16×4 missed 6/95 cross-domain positives (perturbed-vs-perturbed pairs sit
# near shingle-jaccard 0.35, where P[4-row band agrees] ≈ 0.015); 21×3 missed
# 1/95 with only 1/495 negatives gaining a shared key. r=3 keeps the candidate
# volume at web scale bounded: unrelated pages share ~no 3-shingles, so
# P[3-row agreement] is cubically suppressed.
LSH_BANDS = 21
LSH_ROWS = 3

# fixed per-permutation odd multipliers/offsets, derived from sha256 of the
# permutation index — reproducible from source alone
def _seed_params(n: int) -> tuple[np.ndarray, np.ndarray]:
    a = np.empty(n, dtype=_U64)
    b = np.empty(n, dtype=_U64)
    for i in range(n):
        d = hashlib.sha256(f"mdmpublic-minhash-{i}".encode()).digest()
        a[i] = _U64(int.from_bytes(d[:8], "big") | 1)  # odd multiplier
        b[i] = _U64(int.from_bytes(d[8:16], "big"))
    return a, b


_A, _B = _seed_params(NUM_PERM)


def _hash64_str(s: str) -> int:
    """Stable 64-bit hash of a string (sha1-fold; no PYTHONHASHSEED hazard)."""
    return int.from_bytes(hashlib.sha1(s.encode("utf-8")).digest()[:8], "big")


def minhash_signature_u64(h: np.ndarray) -> list[int]:
    """64-permutation MinHash signature of a pre-hashed set (uint64
    element hashes) — (a·h + b) with uint64 wraparound, min over the
    elements per permutation; returned as a signed-int64 list for Spark
    LongType."""
    if h.size == 0:
        return [0] * NUM_PERM
    sig = (np.multiply.outer(_A, h) + _B[:, None]).min(axis=1)
    return sig.astype(np.int64).tolist()


def band_keys_expr(sig_col, n_bands: int = LSH_BANDS, n_rows: int = LSH_ROWS):
    """LSH band keys of an array<long> signature column: ``n_bands``
    bands of ``n_rows`` slots each (default 21×3, see LSH_BANDS above),
    rendered ``"b{band}:" + "-".join(str(v) for v in slots)`` with the
    band index prefixed so bands never collide across positions. Signed
    longs cast to string exactly as Python's ``str(int)`` renders them.
    transform/slice/concat_ws stay inside whole-stage codegen, so banding
    costs no Python crossing (the signature UDF is the only one)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda band: F.concat(
            F.lit("b"),
            band.cast("string"),
            F.lit(":"),
            F.concat_ws(
                "-",
                F.transform(
                    F.slice(sig_col, band * F.lit(n_rows) + 1, F.lit(n_rows)),
                    lambda v: v.cast("string"),
                ),
            ),
        ),
    )


def _hash64_sha256(s: str) -> int:
    """Stable 64-bit hash: first 8 bytes (big-endian) of sha256. Chosen for
    simhash because DuckDB 1.x ships sha256 (not sha1), so an exact SQL
    oracle can recompute the same value as
    ``('0x' || substr(sha256(t), 1, 16))::UBIGINT``."""
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over the token multiset (sign of per-bit vote sums).

    Vectorized: unpack all token-hash bits at once (numpy little-endian
    byte/bit order matches bit b == (h >> b) & 1 on little-endian hosts),
    sum votes per bit column, pack the sign pattern back into one uint64.

    Per-token hash is sha256-folded (``_hash64_sha256``) so the whole
    signature — and therefore the pigeonhole-complete pair set built on
    it — is reproducible in ANSI-ish SQL (see the ``dd_simhash_pairs``
    oracle in queries/training_data.py). Tie votes (equal 1/0 counts on
    a bit) resolve to 0, matching the SQL ``vote > 0`` predicate.
    """
    if not tokens:
        return 0
    h = np.fromiter((_hash64_sha256(t) for t in tokens), dtype=_U64, count=len(tokens))
    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(tokens)  # (+1/-1 per token)
    packed = np.packbits((votes > 0).astype(np.uint8), bitorder="little")
    v = int(packed.view(_U64)[0])
    return v - (1 << 64) if v >= 1 << 63 else v  # to signed int64


def rolling_fingerprint(text: str, window: int = 8, keep: int = 4) -> list[int]:
    """Winnowing-style document fingerprint: rolling hash over byte windows,
    keep the `keep` smallest window hashes (deterministic, order-free)."""
    data = text.encode("utf-8")
    if len(data) <= window:
        return [_hash64_str(text) - (1 << 63)]
    arr = np.frombuffer(data, dtype=np.uint8).astype(_U64)
    mult = _U64(1099511628211)  # FNV prime
    h = np.zeros(len(data) - window + 1, dtype=_U64)
    acc = np.zeros_like(h)
    for i in range(window):
        acc = acc * mult + arr[i : i + len(h)]
    h = acc
    smallest = np.sort(h)[:keep]
    return (smallest.astype(np.int64)).tolist()


# --- vectorized UDFs ---


@F.pandas_udf(ArrayType(LongType()))
def minhash_sig(h_col: pd.Series) -> pd.Series:
    """The one MinHash signature kernel: array<long> of JVM-computed
    xxhash64 set elements (shingle or token ids, reinterpreted as uint64)
    → 64 int64 signature slots. The Arrow crossing carries only int64
    arrays, never a string, and the body is one numpy broadcast per row;
    banding stays JVM-side (``band_keys_expr``). An empty set yields all
    zeros, so callers that must not bucket empty sets mask them."""
    return h_col.map(
        lambda arr: minhash_signature_u64(
            np.asarray(arr, dtype=np.int64).view(_U64)
        )
    )


@F.pandas_udf(LongType())
def simhash(tokens_col: pd.Series) -> pd.Series:
    return tokens_col.map(lambda t: simhash64(list(t)))


@F.pandas_udf(ArrayType(LongType()))
def fingerprint(text_col: pd.Series) -> pd.Series:
    return text_col.map(rolling_fingerprint)
