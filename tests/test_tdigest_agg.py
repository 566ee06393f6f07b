"""t-digest aggregation operator (operators/tdigest_agg.py): build/merge
accuracy, merge invariance, and the Spark two-phase operator against exact
quantiles."""

import numpy as np
import pytest

from sparkdedup.operators.tdigest_agg import (td_compress, td_quantile,
                                              tdigest_agg,
                                              tdigest_quantiles)

SF_DIR = "/root/testdata/sf0.001"


def _digest(values, delta=100.0):
    m, w = td_compress(np.asarray(values, dtype=np.float64),
                       np.ones(len(values)), delta)
    return m, w


def test_compress_bounds_and_exact_weight():
    rng = np.random.default_rng(5)
    v = rng.standard_normal(50_000)
    m, w = _digest(v)
    assert len(m) <= 2 * 100 + 10          # O(delta) centroids
    assert w.sum() == 50_000               # total weight EXACT
    assert np.all(np.diff(m) >= 0)


@pytest.mark.parametrize("q", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
def test_quantile_rank_accuracy(q):
    """k1 scale: rank error shrinks toward the tails — assert the paper's
    coarse envelope |est_rank - q*n| <= 0.01*n mid-range and much tighter
    at the 1% tails."""
    rng = np.random.default_rng(17)
    n = 100_000
    v = np.sort(rng.standard_normal(n))
    m, w = _digest(v)
    est = td_quantile(m, w, v[0], v[-1], np.array([q]))[0]
    est_rank = np.searchsorted(v, est) / n
    budget = 0.005 if min(q, 1 - q) <= 0.01 else 0.02
    assert abs(est_rank - q) <= budget, (q, est_rank)


def test_merge_invariance():
    """Digest of the whole stream vs merge of 16 chunk digests: both obey
    the same envelope (mergeability — the property the two-phase Spark
    operator relies on)."""
    rng = np.random.default_rng(23)
    v = rng.exponential(2.0, 80_000)
    whole_m, whole_w = _digest(v)
    parts = [_digest(c) for c in np.array_split(v, 16)]
    pm = np.concatenate([p[0] for p in parts])
    pw = np.concatenate([p[1] for p in parts])
    merged_m, merged_w = td_compress(pm, pw, 100.0)
    assert merged_w.sum() == whole_w.sum() == 80_000
    s = np.sort(v)
    for q in (0.05, 0.5, 0.95, 0.99):
        a = td_quantile(whole_m, whole_w, s[0], s[-1], np.array([q]))[0]
        b = td_quantile(merged_m, merged_w, s[0], s[-1], np.array([q]))[0]
        ra = np.searchsorted(s, a) / len(s)
        rb = np.searchsorted(s, b) / len(s)
        assert abs(ra - q) <= 0.02 and abs(rb - q) <= 0.02


def test_spark_operator_per_group(spark):
    """Two-phase Spark aggregation vs exact percentiles on lineitem."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    dig = tdigest_agg(li, "l_extendedprice", ["l_returnflag"], delta=200.0)
    qs = tdigest_quantiles(dig, [0.25, 0.5, 0.75, 0.99],
                           ["l_returnflag"]).toPandas()
    exact = (li.groupBy("l_returnflag")
             .agg(F.percentile("l_extendedprice", F.array(
                 F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.99)))
                 .alias("p"),
                 F.count("*").alias("n"),
                 F.min("l_extendedprice").alias("lo"),
                 F.max("l_extendedprice").alias("hi"))).toPandas()
    n_groups = len(exact)
    assert len(qs) == 4 * n_groups
    for _, ex in exact.iterrows():
        g = qs[qs.l_returnflag == ex.l_returnflag].sort_values("q")
        spread = ex.hi - ex.lo
        for (q, got), want in zip(zip(g.q, g.value), ex.p):
            assert abs(got - want) <= 0.05 * spread, (ex.l_returnflag, q)
    # n preserved exactly through both phases
    ns = dig.select("l_returnflag", "n").toPandas()
    merged = ns.merge(exact, on="l_returnflag")
    assert (merged.n_x == merged.n_y).all()


def test_spark_operator_multi_group_cols(spark):
    """Two grouping columns exercise the MultiIndex key path in the
    partition accumulator."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    dig = tdigest_agg(li, "l_extendedprice",
                      ["l_returnflag", "l_linestatus"], delta=100.0)
    got = dig.select("l_returnflag", "l_linestatus", "n").toPandas()
    want = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"))).toPandas()
    m = got.merge(want, on=["l_returnflag", "l_linestatus"])
    assert len(m) == len(want)
    assert (m.n_x == m.n_y).all()


def test_compress_property_weight_and_order():
    """Property: for arbitrary weighted inputs, compression preserves
    total weight to fp-sum accuracy, keeps means sorted, and bounds the
    centroid count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.tuples(
        st.floats(-1e6, 1e6, allow_nan=False),
        st.floats(0.001, 1e3, allow_nan=False)), min_size=1, max_size=500))
    def check(items):
        m = np.array([x for x, _ in items])
        w = np.array([x for _, x in items])
        mm, ww = td_compress(m, w, 50.0)
        assert np.all(np.diff(mm) >= 0)
        assert len(mm) <= 50 + 2
        assert abs(ww.sum() - w.sum()) <= 1e-9 * max(1.0, w.sum())

    check()
