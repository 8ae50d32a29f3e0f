"""String-similarity kernels (numpy, no external libs).

These are the engine's analogue of the reference's pairwise rerank
scorers (cross-encoder predict, `CrossEncoder/test.py:98-100`; cosine
mix, `BiEncoder/test.py:115-120`). ``jaro_winkler_batch`` is the one
Python string kernel the engine runs: it sits inside an Arrow-batched
pandas UDF, so one call scores a whole Arrow batch of pairs.
Levenshtein runs in the JVM (Spark's built-in ``levenshtein``); the
scalar ``levenshtein`` here is its test reference, DuckDB-checked.

The scalar Levenshtein uses a two-row DP where each row update is
vectorized; the insert-cost prefix recurrence
``new[j] = min(t[j], new[j-1]+1)`` is solved in closed form with
``np.minimum.accumulate(t - arange) + arange`` (a standard
reformulation: new[j] = min_{k<=j} t[k] + (j-k)).

Jaro-Winkler follows the standard definition (match window
``max(|a|,|b|)//2 - 1``, transpositions halved, Winkler prefix boost
l<=4, p=0.1, applied when jaro > 0.7) — matching DuckDB's
``jaro_winkler_similarity`` so oracle checks can be exact.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np


def _codes(s: str) -> np.ndarray:
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)


def levenshtein(a: str, b: str) -> int:
    """Exact edit distance between two unicode strings."""
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    ca, cb = _codes(a), _codes(b)
    if len(ca) > len(cb):  # iterate over the shorter string
        ca, cb = cb, ca
    n = len(cb)
    arange = np.arange(1, n + 1, dtype=np.int64)
    prev = np.arange(n + 1, dtype=np.int64)
    for i, ch in enumerate(ca):
        # substitution / deletion costs from the previous row
        t = np.minimum(prev[:-1] + (cb != ch), prev[1:] + 1)
        # insertion recurrence via prefix-min closed form
        head = i + 1
        t = np.minimum(t, head + arange)  # cost of all-inserts from row head
        m = np.minimum.accumulate(t - arange) + arange
        prev = np.concatenate(([head], m))
    return int(prev[-1])


def jaro(a: str, b: str) -> float:
    """Jaro similarity.

    Matches DuckDB's ``jaro_similarity`` (a rapidfuzz port) exactly so
    oracle comparisons are bit-identical: transposition count is halved
    with *integer* division, and an empty side scores 0.0 (even when
    both are empty).
    """
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    ca, cb = _codes(a), _codes(b)
    window = max(max(la, lb) // 2 - 1, 0)
    b_matched = np.zeros(lb, dtype=bool)
    a_chars = []  # a's matched chars, in a-order
    for i in range(la):
        lo = max(0, i - window)
        hi = min(lb, i + window + 1)
        seg = (cb[lo:hi] == ca[i]) & ~b_matched[lo:hi]
        if seg.any():
            b_matched[lo + int(np.argmax(seg))] = True
            a_chars.append(ca[i])
    m = len(a_chars)
    if m == 0:
        return 0.0
    b_chars = cb[np.flatnonzero(b_matched)]  # b's matched chars, in b-order
    t = int(np.count_nonzero(np.asarray(a_chars, dtype=np.uint32) != b_chars)) // 2
    return (m / la + m / lb + (m - t) / m) / 3.0


def jaro_winkler(a: str, b: str, p: float = 0.1, boost_threshold: float = 0.7) -> float:
    """Jaro-Winkler similarity with standard prefix boost."""
    j = jaro(a, b)
    if j <= boost_threshold:
        return j
    prefix = 0
    for x, y in zip(a[:4], b[:4]):
        if x != y:
            break
        prefix += 1
    return j + prefix * p * (1.0 - j)


def _batch_matrix(strs: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """Pad a batch of strings into an (N, Lmax) uint32 codepoint matrix
    (0 = padding; 0 is not a valid text codepoint here) + lengths."""
    n = len(strs)
    lens = np.fromiter(
        (len(s) if s else 0 for s in strs), dtype=np.int64, count=n
    )
    width = int(lens.max()) if n else 0
    mat = np.zeros((n, max(width, 1)), dtype=np.uint32)
    for i, s in enumerate(strs):
        if s:
            mat[i, : len(s)] = np.frombuffer(
                s.encode("utf-32-le"), dtype=np.uint32
            )
    return mat, lens


def jaro_winkler_batch(
    a: Sequence[str], b: Sequence[str], p: float = 0.1,
    boost_threshold: float = 0.7,
) -> np.ndarray:
    """Jaro-Winkler for each aligned pair — the whole batch at once.

    The match-scan loops over positions of ``a`` only; the windowed
    first-unmatched-occurrence search in ``b`` is vectorized across
    the batch (argmax over a masked equality matrix). Transpositions:
    the k-th matched char of a is scatter-aligned against the k-th
    matched char of b via cumsum ranks, then mismatches are counted
    with integer-halving — identical to the scalar kernel (and to
    DuckDB's rapidfuzz semantics). Rows are sorted by len(a)
    descending so the active slice shrinks as short strings finish.
    """
    n = len(a)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    order = np.argsort(
        [-(len(x) if x else 0) for x in a], kind="stable"
    )
    ca, la = _batch_matrix([a[i] or "" for i in order])
    cb, lb = _batch_matrix([b[i] or "" for i in order])
    wa, wb = ca.shape[1], cb.shape[1]
    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    j_idx = np.arange(wb, dtype=np.int64)
    b_matched = np.zeros((n, wb), dtype=bool)
    a_matched = np.zeros((n, wa), dtype=bool)
    rows = np.arange(n)
    for i in range(int(la[0]) if n else 0):
        k = int(np.searchsorted(-la, -(i + 1), side="right"))
        if k == 0:
            break
        lo = i - window[:k, None]
        hi = np.minimum(lb[:k], i + window[:k] + 1)[:, None]
        seg = (
            (cb[:k] == ca[:k, i : i + 1])
            & ~b_matched[:k]
            & (j_idx >= lo)
            & (j_idx < hi)
        )
        has = seg.any(axis=1)
        first = seg.argmax(axis=1)
        b_matched[rows[:k][has], first[has]] = True
        a_matched[:k, i] = has
    m = a_matched.sum(axis=1)
    # align k-th matched of a against k-th matched of b (scatter by
    # cumulative match rank), count mismatches, integer-halve
    width = max(wa, wb)
    A = np.zeros((n, width), dtype=np.uint32)
    B = np.zeros((n, width), dtype=np.uint32)
    ra = np.cumsum(a_matched, axis=1) - 1
    rb = np.cumsum(b_matched, axis=1) - 1
    ar, ac = np.nonzero(a_matched)
    A[ar, ra[ar, ac]] = ca[ar, ac]
    br, bc = np.nonzero(b_matched)
    B[br, rb[br, bc]] = cb[br, bc]
    t = ((A != B) & (np.arange(width) < m[:, None])).sum(axis=1) // 2
    m_f = m.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        j = (m_f / la + m_f / lb + (m_f - t) / m_f) / 3.0
    j = np.where((m == 0) | (la == 0) | (lb == 0), 0.0, j)
    # Winkler prefix boost (common prefix <= 4, applied when j > 0.7)
    pw = min(4, wa, wb)
    if pw > 0:
        pl = np.minimum(np.minimum(la, lb), 4)[:, None]
        eq = (ca[:, :pw] == cb[:, :pw]) & (np.arange(pw) < pl)
        prefix = np.cumprod(eq, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    jw = np.where(j > boost_threshold, j + prefix * p * (1.0 - j), j)
    out = np.empty(n, dtype=np.float64)
    out[order] = jw
    return out
