"""Theta/KMV sketch semantics re-expressed as vectorized numpy operations.

Semantics studied from the reference (no code copied, Go -> numpy re-design):
  - screening: hash = murmur3_128(x, seed).h1 >> 1, reject 0 and >= theta
    (/root/reference/theta/hashtable.go:104-158)
  - estimate = num_retained / theta  (/root/reference/theta/update_sketch.go:151-153)
  - union: theta' = min(thetas), keep entries < theta', trim to k smallest
    with theta'' = (k+1)-th smallest  (/root/reference/theta/union.go:79-210)
  - intersection / a-not-b  (/root/reference/theta/intersection.go:56-226,
    /root/reference/theta/a_not_b.go:28-144)
  - Jaccard with Clopper-Pearson ratio bounds
    (/root/reference/theta/jaccard_similarity.go:47-157,
     /root/reference/theta/bounds_on_ratios_in_sketched_sets.go:26-123,
     /root/reference/theta/bounds_on_ratios_in_sampled_sets.go:35-94,
     /root/reference/internal/binomialproportionsbounds/binomialproportionsbounds.go:65-223)

The per-pair batch functions operate on 2-D (n_pairs, k) matrices so the LSH
verification stage is a handful of numpy ops per Arrow batch, not a loop.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

U64 = np.uint64
MAX_THETA = (1 << 63) - 1  # reference theta/constants.go:40
DEFAULT_SEED = 9001        # reference theta/constants.go:52


# ---------------------------------------------------------------------------
# sketch build / set algebra (single-sketch, used by tests and the KMV agg)
# ---------------------------------------------------------------------------

def screen_hashes(h1: np.ndarray, theta: int = MAX_THETA + 1) -> np.ndarray:
    """Apply theta screening to raw murmur3 h1 values: >>1, drop 0 and >= theta."""
    h = h1.astype(U64, copy=False) >> U64(1)
    return h[(h != U64(0)) & (h < U64(theta))]


@dataclass
class KmvSketch:
    """Compact KMV/theta signature: sorted distinct uint64 entries + theta."""

    entries: np.ndarray
    theta: int = MAX_THETA

    @property
    def num_retained(self) -> int:
        return len(self.entries)

    @property
    def is_empty(self) -> bool:
        return len(self.entries) == 0 and self.theta >= MAX_THETA

    def estimate(self) -> float:
        return self.num_retained / (self.theta / float(MAX_THETA))


def kmv_from_hashes(hashes: np.ndarray, k: int) -> KmvSketch:
    """Build a k-minimum-values sketch from screened hash values.

    Equivalent to the reference QuickSelect sketch after CompactOrdered()
    + Trim(): keep the k smallest distinct, theta = (k+1)-th smallest
    (reference theta/update_sketch.go:396-398, theta/hashtable.go:237-256).
    """
    u = np.unique(hashes.astype(U64, copy=False))  # sorted distinct
    if len(u) <= k:
        return KmvSketch(u, MAX_THETA)
    return KmvSketch(u[:k].copy(), int(u[k]))


def kmv_union(a: KmvSketch, b: KmvSketch, k: int) -> KmvSketch:
    """theta' = min; merge entries < theta'; trim to k (reference theta/union.go:79-210)."""
    theta = min(a.theta, b.theta)
    merged = np.union1d(a.entries, b.entries)
    merged = merged[merged < U64(theta)]
    if len(merged) > k:
        theta = int(merged[k])
        merged = merged[:k]
    return KmvSketch(merged, theta)


def kmv_intersect(a: KmvSketch, b: KmvSketch) -> KmvSketch:
    theta = min(a.theta, b.theta)
    inter = np.intersect1d(a.entries, b.entries)
    return KmvSketch(inter[inter < U64(theta)], theta)


def kmv_a_not_b(a: KmvSketch, b: KmvSketch) -> KmvSketch:
    theta = min(a.theta, b.theta)
    diff = np.setdiff1d(a.entries, b.entries)
    return KmvSketch(diff[diff < U64(theta)], theta)


# ---------------------------------------------------------------------------
# binomial proportion bounds (vectorized Clopper-Pearson approximation)
# ---------------------------------------------------------------------------

def _erf(x):
    """Abramowitz & Stegun 7.1.28 (same approximation the reference uses,
    internal/binomialproportionsbounds/binomialproportionsbounds.go:140-175)."""
    sign = np.sign(x)
    x = np.abs(x)
    a = (0.0705230784, 0.0422820123, 0.0092705272,
         0.0001520143, 0.0002765672, 0.0000430638)
    s = 1.0 + a[0] * x + a[1] * x**2 + a[2] * x**3 + a[3] * x**4 + a[4] * x**5 + a[5] * x**6
    return sign * (1.0 - 1.0 / s**16)


def _normal_cdf(x):
    return 0.5 * (1.0 + _erf(x / np.sqrt(2.0)))


def _as_26_5_22(a, b, yp):
    """A&S formula 26.5.22: approximate inverse incomplete beta (vectorized)."""
    b2m1 = 2.0 * b - 1.0
    a2m1 = 2.0 * a - 1.0
    lam = (yp * yp - 3.0) / 6.0
    h = 2.0 / (1.0 / a2m1 + 1.0 / b2m1)
    w = (yp * np.sqrt(h + lam)) / h - (1.0 / b2m1 - 1.0 / a2m1) * (
        lam + 5.0 / 6.0 - 2.0 / (3.0 * h))
    return a / (a + b * np.exp(2.0 * w))


def approx_lower_bound_on_p(n, k, num_std_devs):
    """Vectorized lower Clopper-Pearson bound (reference ...bounds.go:65-81)."""
    n = np.asarray(n, dtype=np.float64)
    k = np.asarray(k, dtype=np.float64)
    delta = _normal_cdf(-num_std_devs)
    with np.errstate(divide="ignore", invalid="ignore"):
        general = 1.0 - _as_26_5_22(n - k + 1.0, np.maximum(k, 1e-12), -num_std_devs)
        k_eq_1 = 1.0 - np.power(1.0 - delta, 1.0 / np.maximum(n, 1e-12))
        k_eq_n = np.power(delta, 1.0 / np.maximum(n, 1e-12))
    out = np.where(k == 1.0, k_eq_1, general)
    out = np.where(k == n, k_eq_n, out)
    out = np.where((n == 0) | (k == 0), 0.0, out)
    return np.clip(out, 0.0, 1.0)


def approx_upper_bound_on_p(n, k, num_std_devs):
    """Vectorized upper Clopper-Pearson bound (reference ...bounds.go:98-114)."""
    n = np.asarray(n, dtype=np.float64)
    k = np.asarray(k, dtype=np.float64)
    delta = _normal_cdf(-num_std_devs)
    with np.errstate(divide="ignore", invalid="ignore"):
        general = 1.0 - _as_26_5_22(np.maximum(n - k, 1e-12), k + 1.0, num_std_devs)
        k_eq_nm1 = np.power(1.0 - delta, 1.0 / np.maximum(n, 1e-12))
        k_eq_0 = 1.0 - np.power(delta, 1.0 / np.maximum(n, 1e-12))
    out = np.where(k == n - 1.0, k_eq_nm1, general)
    out = np.where(k == 0.0, k_eq_0, out)
    out = np.where((n == 0) | (k == n), 1.0, out)
    return np.clip(out, 0.0, 1.0)


def _hacky_adjuster(f):
    """reference theta/bounds_on_ratios_in_sampled_sets.go:76-86."""
    tmp = np.sqrt(1.0 - f)
    return np.where(f <= 0.5, tmp, tmp + 0.01 * (f - 0.5))


def bounds_b_over_a(count_a, count_b, f):
    """(lb, est, ub) for |B|/|A| where A is a Bernoulli sample at rate f.

    reference theta/bounds_on_ratios_in_sampled_sets.go:35-73 with the fixed
    2-sigma width; f == 1 collapses bounds to the exact ratio.
    """
    count_a = np.asarray(count_a, dtype=np.float64)
    count_b = np.asarray(count_b, dtype=np.float64)
    f = np.asarray(f, dtype=np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        est = np.where(count_a > 0, count_b / np.maximum(count_a, 1e-300), 0.5)
    kappa = 2.0 * _hacky_adjuster(f)
    lb = approx_lower_bound_on_p(count_a, count_b, kappa)
    ub = approx_upper_bound_on_p(count_a, count_b, kappa)
    exact = f >= 1.0
    lb = np.where(exact, est, lb)
    ub = np.where(exact, est, ub)
    lb = np.where(count_a == 0, 0.0, lb)
    ub = np.where(count_a == 0, 1.0, ub)
    return lb, est, ub


# ---------------------------------------------------------------------------
# Jaccard — single pair (reference semantics) and vectorized pair batches
# ---------------------------------------------------------------------------

def jaccard(a: KmvSketch, b: KmvSketch) -> tuple[float, float, float]:
    """(lb, est, ub) per reference theta/jaccard_similarity.go:47-104.

    The union is sized to ceil-pow2(|A|+|B|) (jaccard_similarity.go:159-187)
    so it never trims — we exploit that instead of building a table.
    """
    if a.is_empty and b.is_empty:
        return (1.0, 1.0, 1.0)
    if a.is_empty or b.is_empty:
        return (0.0, 0.0, 0.0)
    theta = min(a.theta, b.theta)
    ea = a.entries[a.entries < U64(theta)]
    eb = b.entries[b.entries < U64(theta)]
    union = np.union1d(ea, eb)
    if (len(union) == len(a.entries) == len(b.entries)
            and a.theta == b.theta == theta):
        return (1.0, 1.0, 1.0)  # identicalSets short-circuit
    inter = np.intersect1d(ea, eb)
    f = theta / float(MAX_THETA)
    lb, est, ub = bounds_b_over_a(len(union), len(inter), f)
    return (float(lb), float(est), float(ub))


_PAD_A = np.uint64((1 << 63))        # sentinels above the h>>1 hash range
_PAD_B = np.uint64((1 << 63) + (1 << 62))


def pairwise_kmv_jaccard(
    sig_a: np.ndarray, theta_a: np.ndarray, count_a: np.ndarray,
    sig_b: np.ndarray, theta_b: np.ndarray, count_b: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized per-pair KMV Jaccard over (n_pairs, k) sorted signatures.

    Returns (lb, est, ub, inter_count). Entries beyond count_i are ignored.
    Same math as `jaccard` (theta' = min, counts below theta', ratio bounds)
    but with no per-pair python: intersection counts come from one sort of
    the concatenated rows (duplicate-adjacency counting).
    """
    n, k = sig_a.shape
    theta = np.minimum(theta_a.astype(U64), theta_b.astype(U64))
    # effective counts below min-theta: signatures are sorted, so searchsorted
    # per-row == count of entries < theta. Vectorize via broadcasting compare.
    a = sig_a.astype(U64, copy=False)
    b = sig_b.astype(U64, copy=False)
    cols = np.arange(k, dtype=np.int64)
    valid_a = (cols[None, :] < count_a[:, None]) & (a < theta[:, None])
    valid_b = (cols[None, :] < count_b[:, None]) & (b < theta[:, None])
    ca = valid_a.sum(axis=1)
    cb = valid_b.sum(axis=1)
    # pad invalid slots with non-colliding sentinels, then count duplicates
    pa = np.where(valid_a, a, _PAD_A + (cols[None, :].astype(U64) * U64(2)))
    pb = np.where(valid_b, b, _PAD_B + (cols[None, :].astype(U64) * U64(2) + U64(1)))
    both = np.concatenate([pa, pb], axis=1)
    both.sort(axis=1)
    inter = (both[:, 1:] == both[:, :-1]).sum(axis=1)
    union = ca + cb - inter
    f = theta.astype(np.float64) / float(MAX_THETA)
    lb, est, ub = bounds_b_over_a(union, inter, f)
    # reference edge cases: both empty -> (1,1,1); one empty -> (0,0,0)
    both_empty = (ca == 0) & (cb == 0)
    one_empty = ((ca == 0) | (cb == 0)) & ~both_empty
    for arr, v_both in ((lb, 1.0), (est, 1.0), (ub, 1.0)):
        arr[both_empty] = v_both
        arr[one_empty] = 0.0
    # identical sets -> exactly (1,1,1)
    ident = (inter == ca) & (inter == cb) & (theta_a == theta_b) & ~both_empty
    lb[ident] = est[ident] = ub[ident] = 1.0
    return lb, est, ub, inter
