"""VarOpt sampling + reservoir union (threshold_sample primitive).

Semantics under test (reference sampling/varopt_items_sketch.go:94-250,
reservoir_items_union.go:122-253 — Spark-first redesign, no code copied):

- fixed size: exactly k items per group (or the whole group when <= k);
- H/R split: every item with w >= tau kept exactly with its own weight,
  light items carry weight tau;
- HT identity: sum(adj_weight) over the WHOLE sample == population total
  exactly (h heavies keep their weight, (k-h) lights at tau where
  (k-h)*tau == sum of light weights by construction of tau);
- unbiasedness: the systematic R-draw includes each light item with
  probability exactly w/tau when the offset is uniform -> the HT
  estimator of any subset sum is unbiased (statistical gate over a
  numpy mirror of the same arithmetic);
- reservoir union first-order uniformity: items from two reservoirs with
  different (n, k) end up in the merged sample with per-ORIGINAL-item
  probability independent of which source carried them (the reference's
  documented guarantee level).
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# numpy mirror of threshold_sample (same arithmetic, same ordering rules)
# ---------------------------------------------------------------------------

def np_threshold_sample(ids, w, k, order_rank, offset):
    """ids/w: arrays; order_rank: systematic-stage sort key (ascending);
    returns (kept_ids, adj_weights). Mirrors operators/sampling.py
    threshold_sample for a single group."""
    n = len(ids)
    if n <= k:
        return ids.copy(), w.astype(float).copy()
    # tau scan over weight-desc order (tiebreak by order_rank like the op)
    idx = np.lexsort((order_rank, -w))
    ws = w[idx].astype(float)
    S = ws.sum()
    pre = np.concatenate([[0.0], np.cumsum(ws)[:-1]])
    rn = np.arange(1, n + 1)
    cand = (S - pre) / np.maximum(k - rn + 1, 1)
    ok = (rn <= k) & (ws <= cand)
    hf = rn[ok][0]
    tau = cand[hf - 1]
    h = hf - 1
    heavy_ids = ids[idx[:h]]
    light_pos = idx[h:]
    # systematic draw over order_rank order
    lp = light_pos[np.argsort(order_rank[light_pos], kind="stable")]
    pi = w[lp].astype(float) / tau
    cum = np.cumsum(pi)
    crossed = np.floor(cum - offset) > np.floor(cum - pi - offset)
    kept_light = ids[lp[crossed]]
    kept = np.concatenate([heavy_ids, kept_light])
    adj = np.concatenate([w[idx[:h]].astype(float),
                          np.full(len(kept_light), tau)])
    return kept, adj


def _md5_rank(ids, salt):
    return np.array([hashlib.md5(f"{salt}|{i}".encode()).hexdigest()
                     for i in ids])


# ---------------------------------------------------------------------------
# varopt_sample
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def skew_df(spark):
    rng = np.random.default_rng(7)
    w = np.concatenate([rng.uniform(1, 2, 190),
                        [500., 400, 300, 200, 100, 90, 80, 70, 60, 50]])
    rows = [(int(i), float(x), "g" if i % 2 else "h")
            for i, x in enumerate(w)]
    return spark.createDataFrame(rows, "id long, w double, grp string")


def test_varopt_fixed_size_and_hr_split(spark, skew_df):
    from sparkdedup.operators.sampling import varopt_sample

    s = varopt_sample(skew_df, k=20, weight_col="w").toPandas()
    assert len(s) == 20
    heavies = s[s.adj_weight == s.w]
    # the 10 planted heavy weights dominate tau -> all present, own weight
    assert sorted(heavies.w.tolist(), reverse=True) == [
        500., 400, 300, 200, 100, 90, 80, 70, 60, 50]
    lights = s[s.adj_weight != s.w]
    taus = lights.adj_weight.unique()
    assert len(taus) == 1
    tau = taus[0]
    assert (lights.w <= tau).all() and (heavies.w > tau).all()


def test_varopt_ht_total_identity(spark, skew_df):
    from sparkdedup.operators.sampling import varopt_sample

    true_total = skew_df.toPandas().w.sum()
    s = varopt_sample(skew_df, k=20, weight_col="w").toPandas()
    assert s.adj_weight.sum() == pytest.approx(true_total, rel=1e-12)
    # per group too
    sg = varopt_sample(skew_df, k=15, weight_col="w",
                       group_cols=["grp"]).toPandas()
    tg = skew_df.toPandas().groupby("grp").w.sum()
    for g, part in sg.groupby("grp"):
        assert part.adj_weight.sum() == pytest.approx(tg[g], rel=1e-12)
        assert len(part) == 15


def test_varopt_subset_sum_operator(spark, skew_df):
    """varopt_subset_sum over the full sample == population total exactly
    (the HT identity); a heavy-item predicate is exact too (heavies keep
    their own weight and are always included)."""
    from sparkdedup.operators.sampling import varopt_sample, varopt_subset_sum

    s = varopt_sample(skew_df, k=20, weight_col="w")
    total = varopt_subset_sum(s, F.lit(True)).first()
    assert total["estimate"] == pytest.approx(
        skew_df.toPandas().w.sum(), rel=1e-12)
    heavy_est = varopt_subset_sum(s, F.col("w") >= 50).first()
    assert heavy_est["estimate"] == pytest.approx(
        500 + 400 + 300 + 200 + 100 + 90 + 80 + 70 + 60 + 50, rel=1e-12)
    per_group = varopt_sample(skew_df, k=15, weight_col="w",
                              group_cols=["grp"])
    g = varopt_subset_sum(per_group, F.lit(True),
                          group_cols=["grp"]).toPandas().set_index("grp")
    tg = skew_df.toPandas().groupby("grp").w.sum()
    for grp in ("g", "h"):
        assert g.loc[grp, "estimate"] == pytest.approx(tg[grp], rel=1e-12)


def test_varopt_exact_mode_keeps_everything(spark, skew_df):
    from sparkdedup.operators.sampling import varopt_sample

    small = skew_df.limit(12)
    s = varopt_sample(small, k=50, weight_col="w").toPandas()
    assert len(s) == 12
    assert (s.adj_weight == s.w).all()


def test_varopt_matches_numpy_mirror(spark, skew_df):
    """The Spark plan and the numpy mirror draw the IDENTICAL sample for
    the same md5 order key and offset — the statistical gates below then
    transfer from the mirror to the operator."""
    from sparkdedup.operators.sampling import varopt_sample

    pdf = skew_df.toPandas()
    key = F.md5(F.concat_ws("|", F.lit("t"), F.col("id").cast("string")))
    s = varopt_sample(skew_df, k=20, weight_col="w", order_key=key,
                      offset=0.25).toPandas()
    ids, w = pdf.id.to_numpy(), pdf.w.to_numpy()
    rank = _md5_rank(ids, "t")
    kept, adj = np_threshold_sample(ids, w, 20, rank, 0.25)
    assert set(s.id) == set(kept.tolist())
    got = s.set_index("id").adj_weight
    want = dict(zip(kept.tolist(), adj.tolist()))
    for i, a in want.items():
        assert got[i] == pytest.approx(a, rel=1e-9)


def test_varopt_subset_sum_unbiased_numpy():
    """HT subset-sum unbiasedness of the systematic R-draw: over uniform
    offsets and random orderings, mean(HT estimate of a fixed subset) ==
    true subset sum within Monte-Carlo tolerance."""
    rng = np.random.default_rng(11)
    n, k = 400, 40
    w = rng.pareto(1.5, n) + 0.5
    ids = np.arange(n)
    subset = rng.choice(n, 120, replace=False)
    true = w[subset].sum()
    in_subset = np.zeros(n, bool)
    in_subset[subset] = True
    trials = 600
    ests = np.empty(trials)
    for t in range(trials):
        order = rng.permutation(n).astype(float)
        kept, adj = np_threshold_sample(ids, w, k, order, rng.uniform())
        ests[t] = adj[in_subset[kept]].sum()
    assert ests.mean() == pytest.approx(true, rel=0.03)


# ---------------------------------------------------------------------------
# reservoir_union
# ---------------------------------------------------------------------------

def test_reservoir_union_exact_mode(spark):
    from sparkdedup.operators.sampling import reservoir_union

    rows = ([(i, "a", 8, 10) for i in range(8)]
            + [(i + 100, "b", 5, 10) for i in range(5)])
    df = spark.createDataFrame(rows, "id long, src string, n long, k long")
    u = reservoir_union(df, k=20, n_col="n", k_col="k").toPandas()
    assert len(u) == 13  # both sources exact and total <= k: union == all


def test_reservoir_union_size_and_source_balance(spark):
    from sparkdedup.operators.sampling import reservoir_union

    rows = ([(i, "a", 1000, 100) for i in range(100)]
            + [(i + 1000, "b", 200, 50) for i in range(50)])
    df = spark.createDataFrame(rows, "id long, src string, n long, k long")
    u = reservoir_union(df, k=60, n_col="n", k_col="k").toPandas()
    assert len(u) == 60
    by = u.groupby("src").size()
    # expected per-ORIGINAL uniformity: 50 from a (1000/1200), 10 from b
    assert 40 <= by.get("a", 0) <= 58
    assert 2 <= by.get("b", 0) <= 20


def test_reservoir_union_first_order_uniform_numpy():
    """Original-stream uniformity: stream A (N=1000, reservoir k=100,
    implicit weight 10) and stream B (N=200, k=50, weight 4) merged to
    k=60. Every original item's inclusion probability must be k/N_total
    = 0.05 regardless of stream. Monte-Carlo over reservoir draws,
    orderings, and offsets, using the numpy mirror (proven identical to
    the Spark op above)."""
    rng = np.random.default_rng(23)
    n1, k1, n2, k2, k = 1000, 100, 200, 50, 60
    trials = 400
    inc1 = inc2 = 0
    for _ in range(trials):
        s1 = rng.choice(n1, k1, replace=False)           # reservoir draws
        s2 = n1 + rng.choice(n2, k2, replace=False)
        ids = np.concatenate([s1, s2])
        w = np.concatenate([np.full(k1, n1 / k1), np.full(k2, n2 / k2)])
        order = rng.permutation(len(ids)).astype(float)
        kept, _ = np_threshold_sample(ids, w, k, order, rng.uniform())
        inc1 += int((kept < n1).sum())
        inc2 += int((kept >= n1).sum())
    p1 = inc1 / (trials * n1)
    p2 = inc2 / (trials * n2)
    want = k / (n1 + n2)
    assert p1 == pytest.approx(want, rel=0.05)
    assert p2 == pytest.approx(want, rel=0.05)
    assert p1 == pytest.approx(p2, rel=0.07)


def test_varopt_edge_cases(spark):
    """Deterministic boundary cases: k=1 (everything rides tau), a
    single-row group, and all-equal weights (tau = S/k, any k rows are a
    valid draw; sum identity still exact)."""
    from sparkdedup.operators.sampling import varopt_sample

    one = spark.createDataFrame([(1, 7.0)], "id long, w double")
    s1 = varopt_sample(one, k=5, weight_col="w").toPandas()
    assert len(s1) == 1 and s1.adj_weight[0] == 7.0

    df = spark.createDataFrame([(i, 3.0) for i in range(40)],
                               "id long, w double")
    for k in (1, 7):
        s = varopt_sample(df, k=k, weight_col="w").toPandas()
        assert len(s) == k
        assert s.adj_weight.sum() == pytest.approx(120.0, rel=1e-12)
        # equal weights: tau = S/k, every kept item carries exactly it
        assert np.allclose(s.adj_weight.to_numpy(), 120.0 / k, rtol=1e-12)

    skew = spark.createDataFrame([(0, 1000.0)] + [(i, 1.0)
                                 for i in range(1, 30)], "id long, w double")
    s = varopt_sample(skew, k=3, weight_col="w").toPandas()
    assert len(s) == 3
    big = s[s.id == 0]
    assert len(big) == 1 and big.adj_weight.iloc[0] == 1000.0  # heavy exact
    assert s.adj_weight.sum() == pytest.approx(1029.0, rel=1e-12)


def test_threshold_matches_mirror_property(spark):
    """Property: for arbitrary positive weight multisets and any k, the
    Spark window plan and the numpy mirror pick the IDENTICAL sample with
    identical adjusted weights (shared md5 rank, shared offset). Random
    cases generated up front so one Spark session serves them all."""
    from sparkdedup.operators.sampling import varopt_sample

    rng = np.random.default_rng(97)
    cases = []
    for t in range(6):
        n = int(rng.integers(3, 120))
        kind = t % 3
        if kind == 0:
            w = rng.uniform(0.1, 5.0, n)           # flat
        elif kind == 1:
            w = rng.pareto(1.2, n) + 0.1           # heavy tail
        else:
            w = np.repeat(rng.uniform(1, 10, 3), -(-n // 3))[:n]  # ties
        k = int(rng.integers(1, max(2, n)))
        cases.append((w, k, float(rng.uniform(0, 1))))
    for ci, (w, k, off) in enumerate(cases):
        ids = np.arange(len(w))
        df = spark.createDataFrame(
            [(int(i), float(x)) for i, x in zip(ids, w)], "id long, w double")
        key = F.md5(F.concat_ws("|", F.lit(str(ci)), F.col("id")))
        s = varopt_sample(df, k=k, weight_col="w", order_key=key,
                          offset=off).toPandas()
        rank = _md5_rank(ids, str(ci))
        # mirror tau-scan tiebreak: weight desc then md5 rank, like the op
        kept, adj = np_threshold_sample(ids, w, k, rank, off)
        assert set(s.id) == set(kept.tolist()), f"case {ci}"
        want = dict(zip(kept.tolist(), adj.tolist()))
        for i, a in s.set_index("id").adj_weight.items():
            assert a == pytest.approx(want[i], rel=1e-9), f"case {ci}"


# ---------------------------------------------------------------------------
# mergeability
# ---------------------------------------------------------------------------

def test_varopt_two_phase_unbiased_numpy():
    """Unbiasedness composes through the two-phase split (tower rule):
    simulate phase 1 over arbitrary batch boundaries + phase 2 merge in
    numpy and check the HT subset estimator stays unbiased."""
    rng = np.random.default_rng(31)
    n, k, n_batches = 600, 30, 7
    w = rng.pareto(1.5, n) + 0.5
    ids = np.arange(n)
    subset = rng.choice(n, 150, replace=False)
    in_subset = np.zeros(n, bool)
    in_subset[subset] = True
    true = w[subset].sum()
    trials = 500
    ests = np.empty(trials)
    for t in range(trials):
        perm = rng.permutation(n)
        parts = np.array_split(perm, n_batches)
        mid_ids, mid_w = [], []
        for p in parts:
            kept, adj = np_threshold_sample(
                ids[p], w[p], k, rng.permutation(len(p)).astype(float),
                rng.uniform())
            mid_ids.append(kept)
            mid_w.append(adj)
        mid_ids = np.concatenate(mid_ids)
        mid_w = np.concatenate(mid_w)
        kept, adj = np_threshold_sample(
            mid_ids, mid_w, k, rng.permutation(len(mid_ids)).astype(float),
            rng.uniform())
        ests[t] = adj[in_subset[kept]].sum()
    assert ests.mean() == pytest.approx(true, rel=0.04)


def test_reservoir_union_deterministic(spark):
    from sparkdedup.operators.sampling import reservoir_union

    rows = ([(i, "a", 500, 50) for i in range(50)]
            + [(i + 900, "b", 300, 30) for i in range(30)])
    df = spark.createDataFrame(rows, "id long, src string, n long, k long")
    a = reservoir_union(df, k=40, n_col="n", k_col="k").toPandas()
    b = reservoir_union(df, k=40, n_col="n", k_col="k").toPandas()
    assert sorted(a.id) == sorted(b.id)
    assert len(a) == 40
