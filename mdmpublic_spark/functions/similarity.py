"""Pairwise similarity metrics — pure-Python/numpy, no external C deps.

Keeping the implementations dependency-free preserves the determinism
invariant (BASELINE.md): a library upgrade can never change a score by an
ulp. The expensive metrics are only ever called on SHORT strings (title
proxies, ≤ ~100 chars) and inside a cheap-first cascade (token Jaccard gates
which pairs pay for edit distance) — see operators/scoring.py.
"""

from __future__ import annotations

import numpy as np


def jaro(a: str, b: str) -> float:
    la, lb = len(a), len(b)
    if la == 0 and lb == 0:
        return 1.0
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    match_a = [False] * la
    match_b = [False] * lb
    matches = 0
    for i, ch in enumerate(a):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not match_b[j] and b[j] == ch:
                match_a[i] = True
                match_b[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    # transpositions
    t = 0
    j = 0
    for i in range(la):
        if match_a[i]:
            while not match_b[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    m = matches
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, p: float = 0.1, max_prefix: int = 4) -> float:
    j = jaro(a, b)
    prefix = 0
    for ca, cb in zip(a[:max_prefix], b[:max_prefix]):
        if ca != cb:
            break
        prefix += 1
    return j + prefix * p * (1.0 - j)


def levenshtein(a: str, b: str) -> int:
    """Edit distance. Two implementations, same exact result:

    * short strings (≤32 chars, the title-scoring hot path): two-row
      pure-Python DP — numpy per-op overhead (~6 ufunc calls per DP row
      on a ~20-wide array) costs more than the loop it replaces below
      this size (measured ~5x).
    * longer strings: numpy-vectorized rows (one pass per char of the
      shorter string)."""
    if a == b:
        return 0
    if len(a) > len(b):
        a, b = b, a
    if not a:
        return len(b)
    if len(b) <= 32:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a):
            cur = [i + 1]
            append = cur.append
            for j, cb in enumerate(b):
                append(
                    min(
                        prev[j + 1] + 1,
                        cur[j] + 1,
                        prev[j] + (0 if ca == cb else 1),
                    )
                )
            prev = cur
        return prev[-1]
    bv = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    idx = np.arange(len(b) + 1, dtype=np.int64)
    prev = idx.copy()
    for i, ch in enumerate(a):
        cur = np.empty_like(prev)
        cur[0] = i + 1
        cost = (bv != ord(ch)).astype(np.int64)
        np.minimum(prev[1:] + 1, prev[:-1] + cost, out=cur[1:])
        # propagate insertions left-to-right in one vector pass:
        # cur[j] = min_{k<=j}(cur[k] + (j-k)) = idx[j] + cummin(cur - idx)[j]
        cur = np.minimum.accumulate(cur - idx) + idx
        prev = cur
    return int(prev[-1])


def levenshtein_ratio(a: str, b: str) -> float:
    m = max(len(a), len(b))
    if m == 0:
        return 1.0
    return 1.0 - levenshtein(a, b) / m


def cosine(a, b) -> float:
    va = np.asarray(a, dtype=np.float64)
    vb = np.asarray(b, dtype=np.float64)
    na = np.linalg.norm(va)
    nb = np.linalg.norm(vb)
    if na == 0.0 or nb == 0.0:
        return 0.0
    return float(np.dot(va, vb) / (na * nb))


def hamming64(x: int, y: int) -> int:
    return bin((x ^ y) & ((1 << 64) - 1)).count("1")


def _pad_encode(strs, lengths, width: int) -> np.ndarray:
    """Pack strings into a zero-padded (n, width) uint32 codepoint matrix."""
    M = np.zeros((len(strs), max(width, 1)), dtype=np.uint32)
    for k, s in enumerate(strs):
        lk = lengths[k]
        if lk:
            M[k, :lk] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    return M


def jaro_winkler_batch(strs_a, strs_b, p: float = 0.1, max_prefix: int = 4) -> np.ndarray:
    """Vectorized Jaro-Winkler over aligned string lists.

    Bit-identical to ``jaro_winkler`` pair-wise (pinned by
    tests/test_training_ops.py::test_jw_batch_equals_scalar): the greedy
    window matching runs column-by-column over a (pairs × chars)
    codepoint matrix — the sequential i-loop is kept (matching is
    order-dependent) but each step processes EVERY pair at once, and the
    transposition/jaro/winkler arithmetic uses the same IEEE op order as
    the scalar. ~10× the scalar's throughput on ≤80-char titles because
    the per-char inner window scan becomes one C-side row op.
    """
    n = len(strs_a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    la = np.fromiter((len(s) for s in strs_a), np.int64, count=n)
    lb = np.fromiter((len(s) for s in strs_b), np.int64, count=n)
    out[(la == 0) & (lb == 0)] = 1.0
    act = (la > 0) & (lb > 0)
    if not act.any():
        return out
    La, Lb = int(la.max()), int(lb.max())
    A = _pad_encode(strs_a, la, La)
    B = _pad_encode(strs_b, lb, Lb)
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    matchA = np.zeros((n, La), dtype=bool)
    matchB = np.zeros((n, Lb), dtype=bool)
    colsB = np.arange(Lb)
    for i in range(La):
        rows = act & (la > i)
        ai = A[:, i]
        # candidate = same char, unmatched, inside the per-pair window
        cand = (B == ai[:, None]) & ~matchB
        cand &= (colsB >= (i - window)[:, None]) & (colsB < np.minimum(i + window + 1, lb)[:, None])
        cand &= rows[:, None]
        hasm = cand.any(axis=1)
        j = cand.argmax(axis=1)  # first available j — the scalar's greedy pick
        matchB[np.nonzero(hasm)[0], j[hasm]] = True
        matchA[hasm, i] = True
    m = matchA.sum(axis=1)
    # transpositions: gather each side's matched chars in order, compare
    maxm = int(m.max(initial=0))
    t = np.zeros(n, dtype=np.int64)
    if maxm > 0:
        ra = np.cumsum(matchA, axis=1) - 1
        rb = np.cumsum(matchB, axis=1) - 1
        SA = np.zeros((n, maxm), dtype=np.uint32)
        SB = np.zeros((n, maxm), dtype=np.uint32)
        ia, ja = np.nonzero(matchA)
        SA[ia, ra[ia, ja]] = A[ia, ja]
        ib, jb = np.nonzero(matchB)
        SB[ib, rb[ib, jb]] = B[ib, jb]
        t = ((SA != SB) & (np.arange(maxm) < m[:, None])).sum(axis=1) // 2
    # common prefix (≤ max_prefix, capped by the shorter string)
    w = min(max_prefix, La, Lb)
    if w > 0:
        eqp = (A[:, :w] == B[:, :w]) & (np.arange(w) < np.minimum(la, lb)[:, None])
        pref = np.cumprod(eqp, axis=1).sum(axis=1)
    else:
        pref = np.zeros(n, dtype=np.int64)
    good = act & (m > 0)
    mf = m.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jar = (mf / la + mf / lb + (mf - t) / mf) / 3.0
        jw = jar + pref * p * (1.0 - jar)
    out[good] = jw[good]
    return out
