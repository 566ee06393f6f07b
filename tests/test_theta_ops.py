"""KMV/theta set-algebra and Jaccard semantics tests.

Mirrors the reference's jaccard edge-case expectations
(theta/jaccard_similarity_test.go:32-90) and estimate-accuracy assertions
(theta/update_sketch_test.go:565 style).
"""

import numpy as np
import pytest

from sparkdedup.functions.murmur3 import murmur3_128_int64_single
from sparkdedup.functions.theta import (
    MAX_THETA,
    KmvSketch,
    jaccard,
    kmv_a_not_b,
    kmv_from_hashes,
    kmv_intersect,
    kmv_union,
    pairwise_kmv_jaccard,
    screen_hashes,
)


def _hashes(lo, hi):
    vals = np.arange(lo, hi, dtype=np.uint64)
    h1, _ = murmur3_128_int64_single(vals, 9001)
    return screen_hashes(h1)


def test_estimate_exact_mode():
    sk = kmv_from_hashes(_hashes(0, 100), 4096)
    assert sk.num_retained == 100
    assert sk.theta == MAX_THETA
    assert sk.estimate() == pytest.approx(100, abs=0.5)


def test_estimate_accuracy_estimation_mode():
    # |est - n| / n <= 3% at k=4096, n=1e6 (reference tolerance at lgK=12)
    n = 1_000_000
    sk = kmv_from_hashes(_hashes(0, n), 4096)
    assert sk.num_retained == 4096
    assert abs(sk.estimate() - n) / n < 0.03


def test_union_intersection_anotb():
    k = 1024
    a = kmv_from_hashes(_hashes(0, 10_000), k)
    b = kmv_from_hashes(_hashes(5_000, 15_000), k)
    u = kmv_union(a, b, k)
    i = kmv_intersect(a, b)
    d = kmv_a_not_b(a, b)
    assert abs(u.estimate() - 15_000) / 15_000 < 0.10
    assert abs(i.estimate() - 5_000) / 5_000 < 0.15
    assert abs(d.estimate() - 5_000) / 5_000 < 0.15
    # inclusion-exclusion coherence
    assert i.estimate() + d.estimate() == pytest.approx(a.estimate(), rel=0.15)


# --- jaccard edge cases (reference theta/jaccard_similarity_test.go:32-90) ---

def test_jaccard_both_empty():
    e = KmvSketch(np.empty(0, np.uint64))
    assert jaccard(e, KmvSketch(np.empty(0, np.uint64))) == (1.0, 1.0, 1.0)


def test_jaccard_one_empty():
    a = kmv_from_hashes(_hashes(0, 100), 128)
    e = KmvSketch(np.empty(0, np.uint64))
    assert jaccard(a, e) == (0.0, 0.0, 0.0)
    assert jaccard(e, a) == (0.0, 0.0, 0.0)


def test_jaccard_identical():
    a = kmv_from_hashes(_hashes(0, 50_000), 128)
    b = kmv_from_hashes(_hashes(0, 50_000), 128)
    assert jaccard(a, b) == (1.0, 1.0, 1.0)


def test_jaccard_disjoint():
    a = kmv_from_hashes(_hashes(0, 5000), 256)
    b = kmv_from_hashes(_hashes(10_000, 15_000), 256)
    lb, est, ub = jaccard(a, b)
    assert lb == 0.0
    assert est < 0.05
    assert lb <= est <= ub


def test_jaccard_bounds_bracket_truth():
    # J = |A∩B|/|A∪B| = 5k/15k = 1/3 with k chosen to force estimation mode
    a = kmv_from_hashes(_hashes(0, 10_000), 512)
    b = kmv_from_hashes(_hashes(5_000, 15_000), 512)
    lb, est, ub = jaccard(a, b)
    assert lb <= est <= ub
    assert est == pytest.approx(1 / 3, rel=0.25)
    assert lb <= 1 / 3 <= ub


def test_pairwise_matches_single():
    k = 128
    pairs = [(0, 1000, 500, 1500), (0, 1000, 0, 1000), (0, 100, 5000, 5100)]
    K = k
    sa = np.zeros((len(pairs), K), np.uint64)
    sb = np.zeros((len(pairs), K), np.uint64)
    ta = np.zeros(len(pairs), np.uint64)
    tb = np.zeros(len(pairs), np.uint64)
    ca = np.zeros(len(pairs), np.int64)
    cb = np.zeros(len(pairs), np.int64)
    singles = []
    for i, (a0, a1, b0, b1) in enumerate(pairs):
        A = kmv_from_hashes(_hashes(a0, a1), k)
        B = kmv_from_hashes(_hashes(b0, b1), k)
        sa[i, : A.num_retained] = A.entries
        sb[i, : B.num_retained] = B.entries
        ta[i], tb[i] = A.theta, B.theta
        ca[i], cb[i] = A.num_retained, B.num_retained
        singles.append(jaccard(A, B))
    lb, est, ub, _ = pairwise_kmv_jaccard(sa, ta, ca, sb, tb, cb)
    for i, (slb, sest, sub) in enumerate(singles):
        assert lb[i] == pytest.approx(slb, abs=1e-12)
        assert est[i] == pytest.approx(sest, abs=1e-12)
        assert ub[i] == pytest.approx(sub, abs=1e-12)
