"""Suffix-array construction (prefix doubling, numpy) + LCP, for the deep
containment pass: longest common substring between candidate pairs.

Role parity: the reference has no suffix structures — this implements the
north-star "suffix-array pass for exact substring containment" beyond
whole-file containment (which instr() already covers exactly). No pipeline
stage or catalog query calls it: the pipeline's containment pass joins
winnowed anchors (sparkdedup/operators/containment.py) and
substr_containment_docs uses instr(); tests/test_suffix.py checks it
against brute force.

Algorithm: Manber-Myers prefix doubling with numpy lexsort — O(n log n)
passes, fully vectorized; Kasai's algorithm for LCP (linear, python loop in
C-speed numpy indexing over small candidate texts).
"""

from __future__ import annotations

import numpy as np


def suffix_array(s: bytes) -> np.ndarray:
    """Suffix array of s (indices of sorted suffixes), vectorized doubling."""
    n = len(s)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    rank = np.frombuffer(s, dtype=np.uint8).astype(np.int64)
    sa = np.argsort(rank, kind="stable")
    k = 1
    while k < n:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[:-k] = rank[k:]
        order = np.lexsort((key2, rank))
        # recompute ranks: new rank increments where (rank, key2) changes
        r_sorted = rank[order]
        k_sorted = key2[order]
        changed = np.ones(n, dtype=np.int64)
        changed[1:] = ((r_sorted[1:] != r_sorted[:-1])
                       | (k_sorted[1:] != k_sorted[:-1])).astype(np.int64)
        new_rank = np.empty(n, dtype=np.int64)
        new_rank[order] = np.cumsum(changed) - 1
        rank = new_rank
        sa = order
        if rank[order[-1]] == n - 1:
            break
        k <<= 1
    return sa


def lcp_array(s: bytes, sa: np.ndarray) -> np.ndarray:
    """Kasai LCP: lcp[i] = common prefix length of sa[i] and sa[i-1]."""
    n = len(s)
    lcp = np.zeros(n, dtype=np.int64)
    if n == 0:
        return lcp
    rank = np.empty(n, dtype=np.int64)
    rank[sa] = np.arange(n)
    b = np.frombuffer(s, dtype=np.uint8)
    h = 0
    for i in range(n):
        r = rank[i]
        if r > 0:
            j = sa[r - 1]
            m = n - max(i, j)
            while h < m and b[i + h] == b[j + h]:
                h += 1
            lcp[r] = h
            if h:
                h -= 1
        else:
            h = 0
    return lcp


def longest_common_substring(a: bytes, b: bytes) -> int:
    """Length of the longest common substring via generalized suffix array.

    Concatenate a + SEP + b (SEP = byte outside both via escaping: we use
    0x00 and escape by doubling is unnecessary for token text; if 0x00
    occurs in inputs it only shortens the reported LCS, never inflates it).
    """
    if not a or not b:
        return 0
    s = a + b"\x00" + b
    sa = suffix_array(s)
    lcp = lcp_array(s, sa)
    boundary = len(a)
    # suffix origin: True if suffix starts in a (index < boundary)
    from_a = sa < boundary
    # adjacent suffixes from different sides: lcp capped at distance to SEP
    adj_diff = np.zeros(len(s), dtype=bool)
    adj_diff[1:] = from_a[1:] != from_a[:-1]
    if not adj_diff.any():
        return 0
    cap = np.where(from_a, boundary - sa, len(s))  # don't cross the separator
    caps = np.minimum(cap, np.roll(cap, 1))
    vals = np.where(adj_diff, np.minimum(lcp, caps), 0)
    return int(vals.max())


def containment_fraction(small: str, big: str) -> float:
    """LCS(small, big) / len(small) in bytes — 1.0 iff small is verbatim
    inside big."""
    a = small.encode("utf-8")
    b = big.encode("utf-8")
    if not a:
        return 0.0
    return longest_common_substring(a, b) / len(a)
