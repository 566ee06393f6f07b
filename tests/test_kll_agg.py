"""KLL aggregation operator (operators/kll_agg.py): rank-error envelope,
exact weight bookkeeping, merge invariance, and the Spark two-phase
operator."""

import numpy as np
import pytest

from sparkdedup.operators.kll_agg import (_KllChain, kll_agg,
                                          kll_agg_quantiles, kll_quantile)

SF_DIR = "/root/testdata/sf0.001"


def _chain_over(values, k=200, chunk=1000):
    ch = _KllChain(k)
    a = np.asarray(values, dtype=np.float64)
    for i in range(0, len(a), chunk):
        ch.update(a[i:i + chunk])
    return ch


def test_weight_exact_and_space_bound():
    rng = np.random.default_rng(3)
    for n in (5, 1_000, 123_456):
        ch = _chain_over(rng.standard_normal(n))
        assert ch.total_weight() == n
        # O(k log(n/k)) retained items — generous absolute roof
        assert ch.num_retained() <= 200 * 3 + 8 * 20


@pytest.mark.parametrize("q", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
def test_rank_error_envelope(q):
    """Additive eps*n contract: k=200 gives ~1.65% normalized rank error
    in the reference's published table — assert a 3% roof."""
    rng = np.random.default_rng(17)
    n = 150_000
    v = rng.standard_normal(n)
    s = np.sort(v)
    ch = _chain_over(v)
    vals, wts = ch.items()
    est = kll_quantile(vals, wts, np.array([q]))[0]
    est_rank = np.searchsorted(s, est, side="right") / n
    assert abs(est_rank - q) <= 0.03, (q, est_rank)


def test_merge_invariance():
    rng = np.random.default_rng(23)
    v = rng.exponential(1.5, 60_000)
    whole = _chain_over(v)
    merged = _KllChain(200)
    for c in np.array_split(v, 12):
        part = _chain_over(c)
        vals, wts = part.items()
        lv = np.log2(wts).astype(np.int64)
        for lvl in np.unique(lv):
            merged.add_weighted(vals[lv == lvl], int(lvl))
    assert merged.total_weight() == whole.total_weight() == 60_000
    s = np.sort(v)
    for q in (0.1, 0.5, 0.9, 0.99):
        for ch in (whole, merged):
            vals, wts = ch.items()
            est = kll_quantile(vals, wts, np.array([q]))[0]
            r = np.searchsorted(s, est, side="right") / len(s)
            assert abs(r - q) <= 0.04, (q, r)


def test_chain_property_weight_exact():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.floats(-1e9, 1e9, allow_nan=False),
                    min_size=1, max_size=2000),
           st.integers(min_value=1, max_value=497))
    def check(vals, chunk):
        ch = _KllChain(16)
        a = np.asarray(vals, dtype=np.float64)
        for i in range(0, len(a), chunk):
            ch.update(a[i:i + chunk])
        assert ch.total_weight() == len(a)

    check()


def test_spark_operator_per_group(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sk = kll_agg(li, "l_extendedprice", ["l_returnflag"], k=200)
    got = sk.toPandas()
    want = (li.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.min("l_extendedprice").alias("lo"),
                 F.max("l_extendedprice").alias("hi"),
                 F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"))
            ).toPandas()
    m = got.merge(want, on="l_returnflag")
    assert (m.n_x == m.n_y).all()
    assert (m.min_item == m.lo).all()
    assert (m.max_item == m.hi).all()
    for _, r in got.iterrows():
        wsum = int((np.int64(1) << np.asarray(r["levels"])).sum())
        assert wsum == int(r["n"])
    qs = kll_agg_quantiles(sk, [0.5], ["l_returnflag"]).toPandas()
    mm = qs.merge(want, on="l_returnflag")
    spread = want.hi.max() - want.lo.min()
    assert (abs(mm.value - mm.p50) <= 0.05 * spread).all()


def test_cdf_pmf_exact_regime():
    """Single-level chain (k >= n): cdf = count(v <= x)/n exactly, pmf
    sums back to the cdf — the contract q_kll_rank_cdf_orders gates."""
    from sparkdedup.operators.kll_agg import kll_rank_cdf_pmf

    rng = np.random.default_rng(41)
    v = rng.uniform(0, 100, 3000)
    ch = _chain_over(v, k=4096)
    vals, wts = ch.items()
    assert (wts == 1).all()
    xs = np.array([-1.0, 25.0, 50.0, 99.999, 150.0])
    cdf, pmf = kll_rank_cdf_pmf(vals, wts, xs)
    want = np.array([(v <= x).sum() / len(v) for x in xs])
    assert np.array_equal(cdf, want)
    assert np.allclose(np.cumsum(pmf), cdf)
    assert cdf[0] == 0.0 and cdf[-1] == 1.0


def test_cdf_estimation_envelope():
    """Compacting regime (k=200): |cdf_est - cdf_true| <= eps with the
    KLL additive rank envelope (~1.65%/k-normalized at k=200, 3x margin)."""
    from sparkdedup.operators.kll_agg import kll_rank_cdf_pmf

    rng = np.random.default_rng(43)
    n = 200_000
    v = rng.standard_normal(n)
    ch = _chain_over(v, k=200)
    vals, wts = ch.items()
    xs = np.array([-2.0, -1.0, 0.0, 1.0, 2.0])
    cdf, _ = kll_rank_cdf_pmf(vals, wts, xs)
    want = np.array([(v <= x).sum() / n for x in xs])
    assert np.abs(cdf - want).max() <= 0.05


def test_quantiles_require_single_level_guard(spark):
    """The exact-regime runtime guard must fire on a compacted chain and
    stay silent on a single-level one (r4 advice: no silently-approximate
    values behind an exact contract)."""
    rng = np.random.default_rng(47)
    big = rng.standard_normal(5000)

    def chain_df(values, k):
        df = spark.createDataFrame(
            [(float(x),) for x in values], "v double")
        return kll_agg(df, "v", None, k=k)

    got = kll_agg_quantiles(chain_df(big[:100], 4096), [0.5], None,
                            require_single_level=True).toPandas()
    assert len(got) == 1
    with pytest.raises(Exception, match="exact-regime contract"):
        kll_agg_quantiles(chain_df(big, 16), [0.5], None,
                          require_single_level=True).toPandas()
