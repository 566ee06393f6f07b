"""Extreme-tail quantile contract — the REQ gap (reference
req/sketch.go:61-560).

REQ's reason to exist: a rank-error sketch guarantees |est_rank -
true_rank| <= eps*n, which at p99.99 is useless once eps*n exceeds the
tail population. REQ's HRA mode guarantees RELATIVE rank error near the
top. Spark ships GK (percentile_approx, additive eps = 1/accuracy), so
the engine emulates the HRA contract by DERIVING accuracy from the
desired relative tail error: for quantile q and relative rank error rel,
accuracy >= 1 / ((1 - q) * rel) makes the additive band eps*n a rel
fraction of the tail mass (1-q)*n. These tests pin that envelope
empirically, plus exactness of Spark's percentile at the tail ranks
against a numpy ground truth.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F


def _skewed_df(spark, n=200_000, seed=13):
    """Heavy-tailed values (lognormal-ish via exp of uniform sums) so the
    extreme tail is genuinely spread out — the regime REQ targets."""
    rng = np.random.default_rng(seed)
    vals = np.exp(rng.standard_normal(n) * 2.0 + 5.0)
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame({"v": vals})), np.sort(vals)


@pytest.mark.parametrize("q,rel", [(0.99, 0.1), (0.999, 0.1), (0.9999, 0.2)])
def test_tail_relative_rank_error_envelope(spark, q, rel):
    """percentile_approx at accuracy = 1/((1-q)*rel) must return a value
    whose EXACT rank errs by at most rel of the tail mass (n - q*n) —
    the REQ HRA contract re-expressed through GK's additive bound."""
    df, sorted_vals = _skewed_df(spark)
    n = len(sorted_vals)
    accuracy = int(np.ceil(1.0 / ((1.0 - q) * rel)))
    est = df.agg(F.percentile_approx("v", F.lit(q),
                                     F.lit(accuracy)).alias("e")
                 ).collect()[0]["e"]
    exact_rank = np.searchsorted(sorted_vals, est, side="right")
    target_rank = q * n
    tail = n - target_rank
    assert abs(exact_rank - target_rank) <= rel * tail + 1, (
        f"q={q}: rank {exact_rank} vs target {target_rank:.0f}, "
        f"tail budget {rel * tail:.1f}")


def test_tail_quantiles_exact_vs_numpy(spark):
    """The exact path: Spark percentile at the tail ranks
    must equal numpy's linear interpolation at rank p*(n-1)."""
    df, sorted_vals = _skewed_df(spark, n=50_000, seed=29)
    row = df.agg(
        F.percentile("v", F.array(F.lit(0.99), F.lit(0.999),
                                  F.lit(0.9999))).alias("p")).collect()[0]
    want = np.quantile(sorted_vals, [0.99, 0.999, 0.9999],
                       method="linear")
    got = np.array(row["p"])
    assert np.allclose(got, want, rtol=1e-12)
