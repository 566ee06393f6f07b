"""Randomized characterization harness (mirrors the reference's
cpc/streaming_validation.go / merging_validation.go pattern): long-running
sketch-vs-exact validation over random streams, printing an accuracy table.

Usage: python tools/characterize.py [--trials 20] [--seed 0]
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkdedup.functions.minhash import minhash_signature  # noqa: E402
from sparkdedup.functions.murmur3 import murmur3_128_int64_single  # noqa: E402
from sparkdedup.functions.theta import (  # noqa: E402
    jaccard, kmv_from_hashes, kmv_union, screen_hashes)


def group_scaling_microbench(seed: int = 0) -> None:
    """Kernel cost vs group count for the KMV/tuple update phases:
    argsort-segmentation must stay ~O(n log n) as groups go 10 -> 10^4
    within a fixed-row batch (the round-1 per-group boolean-mask version
    was O(groups x rows) — this guards the fix)."""
    import time

    import pandas as pd

    rng = np.random.default_rng(seed)
    n_rows = 200_000
    print(f"\nupdate-kernel group scaling ({n_rows} rows/batch):")
    print(f"{'groups':>8} {'kmv_sec':>9} {'tuple_sec':>10}")
    for n_groups in (10, 100, 1_000, 10_000):
        groups = rng.integers(0, n_groups, n_rows).astype(str)
        vals = pd.Series(rng.integers(0, 50_000, n_rows).astype(str))
        payload = rng.random(n_rows)
        # kmv update phase body (as in kmv_agg.update_phase)
        from sparkdedup.functions.murmur3 import murmur3_128_strings
        from sparkdedup.functions.segments import smallest_k, sort_unique
        t0 = time.time()
        h1, _ = murmur3_128_strings(vals, 9001)
        hashes = h1 >> np.uint64(1)
        gcodes, guniq = pd.factorize(groups)
        keep = hashes != np.uint64(0)
        u, counts = sort_unique(hashes[keep], gcodes[keep], len(guniq))
        _ = smallest_k(u, counts, 256)
        kmv_sec = time.time() - t0
        # tuple update phase (the full batch kernel)
        from sparkdedup.operators.tuple_agg import _update_batch
        t0 = time.time()
        _ = _update_batch(pd.Series(groups), vals, payload, 256, 9001)
        tup_sec = time.time() - t0
        print(f"{n_groups:>8} {kmv_sec:>9.3f} {tup_sec:>10.3f}")


def sampling_variance_bench(seed: int = 0, trials: int = 400) -> None:
    """VarOpt vs uniform reservoir on subset-sum estimation — the
    quantitative case for the variance-optimal design (reference
    sampling/varopt_items_sketch.go). Same numpy threshold math as
    operators/sampling.py (proven identical to the Spark plan in
    tests/test_varopt_union.py); uniform = HT with weight n/k."""
    import numpy as np

    from sparkdedup.operators.sampling import _np_threshold

    rng = np.random.default_rng(seed)
    n, k = 2000, 100
    w = rng.pareto(1.3, n) + 0.2          # heavy-tailed item weights
    subs = {
        "random 25%": rng.random(n) < 0.25,
        "top-decile byweight": w >= np.quantile(w, 0.9),
        "bottom-half byweight": w < np.quantile(w, 0.5),
    }
    print(f"\nsubset-sum RMSE over {trials} trials, n={n} k={k} "
          f"(pareto weights):")
    print(f"{'subset':>22} {'true':>10} {'varopt_rmse':>12} "
          f"{'uniform_rmse':>13} {'ratio':>6}")
    for name, mask in subs.items():
        true = w[mask].sum()
        vo, un = [], []
        for _ in range(trials):
            rank = rng.permutation(n).astype(float)
            keep, adj = _np_threshold(w, rank, k, rng.uniform())
            vo.append(adj[mask[keep]].sum())
            samp = rng.choice(n, k, replace=False)
            un.append(w[samp[mask[samp]]].sum() * n / k)
        vo_rmse = float(np.sqrt(np.mean((np.array(vo) - true) ** 2)))
        un_rmse = float(np.sqrt(np.mean((np.array(un) - true) ** 2)))
        print(f"{name:>22} {true:>10.1f} {vo_rmse:>12.2f} "
              f"{un_rmse:>13.2f} {un_rmse / max(vo_rmse, 1e-9):>6.1f}x")
        assert abs(np.mean(vo) - true) < 0.1 * true + 3 * un_rmse / trials**0.5 \
            or abs(np.mean(vo) - true) < 0.05 * true, "varopt biased?"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=20)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--k", type=int, default=128)
    ap.add_argument("--group-bench", action="store_true",
                    help="run the 10^4-group update-kernel microbench only")
    ap.add_argument("--sampling-bench", action="store_true",
                    help="run the varopt-vs-uniform subset-sum RMSE table")
    args = ap.parse_args()
    if args.group_bench:
        group_scaling_microbench(args.seed)
        return 0
    if args.sampling_bench:
        sampling_variance_bench(args.seed)
        return 0
    rng = np.random.default_rng(args.seed)

    print(f"{'n_a':>8} {'n_b':>8} {'true_J':>8} {'kmv_J':>8} {'kmv_err':>8} "
          f"{'mh_J':>8} {'mh_err':>8} {'est_err_u':>9} {'in_bounds':>9}")
    kmv_errs, mh_errs, bound_hits = [], [], 0
    for _ in range(args.trials):
        n_a = int(rng.integers(100, 200_000))
        overlap = rng.uniform(0, 1)
        n_shared = int(n_a * overlap)
        n_b = n_shared + int(rng.integers(50, 100_000))
        a_vals = np.arange(0, n_a, dtype=np.uint64)
        b_vals = np.concatenate([
            np.arange(0, n_shared, dtype=np.uint64),
            np.arange(10_000_000, 10_000_000 + (n_b - n_shared),
                      dtype=np.uint64)])
        ha = screen_hashes(murmur3_128_int64_single(a_vals, 9001)[0])
        hb = screen_hashes(murmur3_128_int64_single(b_vals, 9001)[0])
        true_j = n_shared / (n_a + n_b - n_shared)

        A = kmv_from_hashes(ha, args.k)
        B = kmv_from_hashes(hb, args.k)
        lb, est, ub = jaccard(A, B)
        kmv_err = abs(est - true_j)
        in_b = lb - 1e-12 <= true_j <= ub + 1e-12
        bound_hits += in_b

        sa = minhash_signature(np.unique(ha))
        sb = minhash_signature(np.unique(hb))
        mh_j = float((sa == sb).mean())
        mh_err = abs(mh_j - true_j)

        u = kmv_union(A, B, args.k)
        union_true = n_a + n_b - n_shared
        est_err_u = abs(u.estimate() - union_true) / union_true

        kmv_errs.append(kmv_err)
        mh_errs.append(mh_err)
        print(f"{n_a:8d} {n_b:8d} {true_j:8.4f} {est:8.4f} {kmv_err:8.4f} "
              f"{mh_j:8.4f} {mh_err:8.4f} {est_err_u:9.4f} {str(in_b):>9}")

    print(f"\nmean |err|: kmv_jaccard={np.mean(kmv_errs):.4f} "
          f"minhash={np.mean(mh_errs):.4f}  "
          f"bounds contained truth {bound_hits}/{args.trials} "
          f"(95% interval expected)")
    # theoretical sd at k=128 around J=0.5 is ~0.044; fail loudly if wildly off
    assert np.mean(kmv_errs) < 0.08, "KMV Jaccard error out of envelope"
    assert np.mean(mh_errs) < 0.10, "MinHash error out of envelope"
    return 0


if __name__ == "__main__":
    sys.exit(main())
