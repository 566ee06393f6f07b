"""Sampling operators (reference sampling/reservoir_items_sketch.go,
reservoir_items_union.go, varopt_items_sketch.go).

Reservoir (exact-k uniform without replacement) per group: the classic
distributed formulation is "assign each row a uniform random key, keep the
k smallest per group" — a window rank, identical in distribution to
sequential reservoir sampling, deterministic under a seed.
`estimate_subset_sum` mirrors reservoir_items_sketch.go:202-249.

VarOpt / reservoir-union share one Spark-first primitive,
`threshold_sample`: find the unique threshold tau with
sum_i min(w_i/tau, 1) = k (the VarOpt H/R split,
varopt_items_sketch.go:94-250), keep every heavy item (w >= tau) exactly,
and draw the light items by SYSTEMATIC sampling in a deterministic
hash order with inclusion probability exactly w_i/tau — a fixed-size
IPPS (inclusion-probability-proportional-to-size) design. This matches
the reference's first-order guarantees (VarOpt: subset-sum unbiasedness
with minimal variance across H+R; reservoir union: "each item from the
global input has a uniform probability of selection, but there are no
claims about higher order statistics", reservoir_items_union.go:36-44)
while being pure window algebra: no per-item RNG state, no sequential
insert loop, and — because every sum it takes is an ORDERED running
window sum (sequential accumulation in frame order in every engine; no
unordered partition-wide aggregate whose summation order could differ
in the last ulp) over IEEE +,-,*,/ and floor — byte-reproducible by any
other engine for the oracle gate. No reference code copied: the Go
implementation is a sequential gadget with rand.Float64 slot
replacement; this is a two-window-pass declarative redesign.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def reservoir_sample(df: DataFrame, k: int, group_cols: list[str] | None = None,
                     seed: int = 9001, key: Column | None = None) -> DataFrame:
    """Exact-k uniform sample (per group if group_cols given), deterministic.

    Uses xxhash64 of the full row + seed as the uniform key (rand() is not
    reproducible across retries; a hash of row content is). Pass `key` to
    override the rank key — e.g. md5 of a unique id for an oracle that must
    reproduce the sample in another engine."""
    if key is None:
        key = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(key)
    else:
        w = Window.partitionBy(F.lit(1)).orderBy(key)
    return (df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k).drop("_rk"))


def grouped_rank_scalable(df: DataFrame, group_cols: list[str],
                          order_cols: list[str], num_partitions: int,
                          rank_col: str = "rn") -> DataFrame:
    """row_number() over (PARTITION BY group ORDER BY order) WITHOUT ever
    gathering a group into one task — the scale form for groups that can
    exceed a partition. Its one caller is the stratified-sample query
    (queries.q_stratified_sample_docs: a per-language rank over the whole
    corpus).

    Three bounded steps reconstruct the exact global rank:
      1. range-repartition on (group, order) — each output partition holds
         a contiguous slice of the total order, sized by the partitioner,
         never by the group;
      2. local row_number within (partition_id, group) — every window
         gather is bounded by the range-partition size;
      3. per-(partition, group) counts (a tiny side table: one row per
         group-slice) prefix-summed over partition_id and broadcast back:
         global rank = local rank + offset of same-group rows in lower
         partitions.
    Because range partitions are contiguous in the sort key, the stitched
    rank equals the single-window row_number exactly (order_cols + the
    caller's key must form a total order within each group, as row_number
    determinism already requires).

    The counts branch and the join branch BOTH read `_pid`, so they must
    see the SAME physical partitioning. Spark's exchange reuse usually
    guarantees that, but RangePartitioner samples its boundaries with a
    lineage-dependent seed — if the exchange were ever recomputed per
    branch (reuse disabled, AQE replan, upstream plan change), `_pid`
    could disagree between branches and ranks would silently corrupt. So
    the range-partitioned frame is materialized once via localCheckpoint
    BEFORE branching: both branches then scan the same pinned RDD (plan
    shows `Scan ExistingRDD`, zero range exchanges downstream — plan-
    guarded in test_sampling_stateful.py). Trade: a lost executor must
    recompute from the checkpoint blocks rather than lineage — acceptable
    for a bounded intermediate, same trade components.py already makes."""
    keys = group_cols + order_cols
    d = (df.repartitionByRange(num_partitions, *[F.col(c) for c in keys])
           .withColumn("_pid", F.spark_partition_id())
           .localCheckpoint(eager=False))
    wloc = (Window.partitionBy("_pid", *group_cols)
            .orderBy(*[F.col(c) for c in order_cols]))
    d = d.withColumn("_lrn", F.row_number().over(wloc))
    cnt = d.groupBy("_pid", *group_cols).agg(F.count("*").alias("_c"))
    woff = (Window.partitionBy(*group_cols).orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1))
    off = cnt.withColumn(
        "_off", F.coalesce(F.sum("_c").over(woff), F.lit(0))).drop("_c")
    return (d.join(F.broadcast(off), ["_pid"] + group_cols)
             .withColumn(rank_col, (F.col("_lrn") + F.col("_off"))
                         .cast("int"))
             .drop("_pid", "_lrn", "_off"))


def threshold_sample(df: DataFrame, k: int, weight_col: str,
                     order_key: Column, offset: float,
                     group_cols: list[str] | None = None,
                     adj_weight_col: str = "adj_weight") -> DataFrame:
    """Fixed-size IPPS sample of k items per group: VarOpt's H/R split.

    tau solves sum_i min(w_i/tau, 1) = k. Items with w >= tau ("heavy",
    the reference's H region) are kept with their own weight; the rest
    are sampled systematically in `order_key` order with inclusion
    probability exactly w/tau and assigned weight tau (the R region,
    varopt_items_sketch.go:94-250). Groups with <= k items are returned
    whole. Output = input columns + `adj_weight_col`; the Horvitz-
    Thompson estimator sum(adj_weight) over any predicate is unbiased
    for the population subset sum.

    tau derivation (one weight-desc window pass): with weights sorted
    descending, scan positions rn = 1..k; the first rn where
    w_rn <= (S - prefix_{rn-1}) / (k - rn + 1) marks the H/R boundary —
    everything strictly before is heavy and tau is that candidate value.
    (The condition always holds by rn = k, so h <= k-1.)

    Systematic R-draw: lights in hash order, running sum of pi = w/tau;
    item included iff the interval (cum - pi, cum] contains a point
    m + offset for integer m. Sum of pi is exactly k - h, so exactly
    k - h lights are kept; each is included with probability exactly pi
    when offset ~ U(0,1). `offset` and `order_key` are caller-supplied
    so the draw is deterministic and replayable in another engine.

    Input contract (matching the reference sketch, which rejects
    weight <= 0 on update): weights must be strictly positive. Violations
    fail LOUDLY at execution (assert_true folded into the weight cast) —
    a silent pass would make all-zero light weights yield tau = 0 and
    NULL inclusion probabilities, quietly returning short samples.
    """
    if not 0.0 <= offset < 1.0:
        raise ValueError(f"offset must be in [0,1), got {offset}")
    pcols = [F.col(c) for c in group_cols] if group_cols else [F.lit(1)]
    wd = Window.partitionBy(*pcols).orderBy(F.col("_w").desc(), order_key)
    wg = Window.partitionBy(*pcols)
    wl = Window.partitionBy(*pcols).orderBy(order_key)

    wcast = F.col(weight_col).cast("double")
    # assert_true returns NULL when the predicate holds and throws
    # otherwise (NULL weights also fail: a null predicate is not true);
    # folding it into _w itself (+ coalesce(NULL, 0.0)) keeps Catalyst
    # from pruning the check away with an unused guard column.
    guard = F.coalesce(F.assert_true(
        wcast > 0, F.concat(
            F.lit(f"threshold_sample: non-positive weight in {weight_col}: "),
            wcast.cast("string"))).cast("double"), F.lit(0.0))
    d = (df.withColumn("_w", wcast + guard)
           .withColumn("_rn", F.row_number().over(wd))
           .withColumn("_pre", F.coalesce(
               F.sum("_w").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
               F.lit(0.0)))
           .withColumn("_cnt", F.count("*").over(wg)))
    # group total as the LAST value of the ordered running sum (_pre + _w
    # at _rn == _cnt) rather than an unordered partition-wide sum(). This
    # makes both engines derive tau from the SAME ordered prefix sums —
    # an unordered aggregate is free to differ in the last ulp (Spark row
    # order vs DuckDB's tree accumulation), which 4dp rounding absorbs
    # for VALUES but not for a draw-membership flip at a floor()
    # boundary. NOTE the remaining equality is EMPIRICAL, not guaranteed:
    # DuckDB evaluates running-frame window sums via segment-tree
    # accumulation, so its prefix values need not be the sequential
    # left-to-right fp sum — the gate verifies bit-equality holds on
    # these datasets; it narrows the flip risk, it does not eliminate it.
    d = d.withColumn("_S", F.max(F.when(
        F.col("_rn") == F.col("_cnt"),
        F.col("_pre") + F.col("_w"))).over(wg))
    # divisor only meaningful for rn <= k (cond masks the rest); clamp to
    # keep ANSI mode from throwing DIVIDE_BY_ZERO at rn = k+1
    cand = ((F.col("_S") - F.col("_pre"))
            / F.greatest(F.lit(k) - F.col("_rn") + 1, F.lit(1)))
    cond = (F.col("_rn") <= k) & (F.col("_w") <= cand)
    d = (d.withColumn("_cand", cand)
          .withColumn("_hf", F.min(F.when(cond, F.col("_rn"))).over(wg))
          .withColumn("_tau", F.max(
              F.when(F.col("_rn") == F.col("_hf"), F.col("_cand"))).over(wg)))

    exact = F.col("_cnt") <= k
    heavy = F.col("_rn") < F.col("_hf")
    pi = F.when(exact | heavy, F.lit(0.0)).otherwise(F.col("_w") / F.col("_tau"))
    d = d.withColumn("_pi", pi).withColumn("_cum", F.sum("_pi").over(
        wl.rowsBetween(Window.unboundedPreceding, 0)))
    crossed = (F.floor(F.col("_cum") - offset)
               > F.floor(F.col("_cum") - F.col("_pi") - offset))
    keep = exact | heavy | crossed
    adj = F.when(exact | heavy, F.col("_w")).otherwise(F.col("_tau"))
    out = d.filter(keep).withColumn(adj_weight_col, adj)
    drop = ["_w", "_rn", "_pre", "_S", "_cnt", "_cand", "_hf", "_tau",
            "_pi", "_cum"]
    return out.drop(*drop)


def _np_threshold(w, rank, k, offset):
    """Offline threshold sample of ONE group in numpy — the same
    arithmetic as threshold_sample (tau scan over weight-desc order,
    heavies exact, systematic light draw in `rank` order), kept as the
    reference the tests and tools/characterize.py check it against.
    Returns (positions kept, adjusted weights)."""
    import numpy as np

    n = len(w)
    if n <= k:
        return np.arange(n), np.asarray(w, dtype=np.float64).copy()
    w = np.asarray(w, dtype=np.float64)
    if (w <= 0).any():
        raise ValueError("threshold sample: non-positive weight")
    rank = np.asarray(rank)
    idx = np.lexsort((rank, -w))
    ws = w[idx]
    # sequential cumsum (not ws.sum(), which is pairwise): S must equal
    # the ordered running total so tau matches threshold_sample exactly
    run = np.cumsum(ws)
    S = run[-1]
    pre = np.concatenate(([0.0], run[:-1]))
    rn = np.arange(1, n + 1)
    cand = (S - pre) / np.maximum(k - rn + 1, 1)
    ok = (rn <= k) & (ws <= cand)
    hf = rn[ok][0]
    tau = cand[hf - 1]
    h = hf - 1
    heavy = idx[:h]
    light = idx[h:]
    lo = light[np.argsort(rank[light], kind="stable")]
    pi = w[lo] / tau
    cum = np.cumsum(pi)
    crossed = np.floor(cum - offset) > np.floor(cum - pi - offset)
    kept_light = lo[crossed]
    keep = np.concatenate([heavy, kept_light])
    adj = np.concatenate([w[heavy], np.full(len(kept_light), tau)])
    return keep, adj


def varopt_sample(df: DataFrame, k: int, weight_col: str,
                  group_cols: list[str] | None = None,
                  order_key: Column | None = None,
                  offset: float = 0.3819660112501051,
                  adj_weight_col: str = "adj_weight") -> DataFrame:
    """VarOpt_k weighted sample (reference sampling/varopt_items_sketch.go):
    heavy items exact, light items IPPS at threshold tau — the variance-
    optimal fixed-size design for subset-sum estimation. Deterministic:
    the R-region draw uses `order_key` (default md5 of the full row) and
    the fixed systematic `offset` instead of RNG state."""
    if order_key is None:
        order_key = F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                             for c in df.columns]))
    return threshold_sample(df, k, weight_col, order_key, offset,
                            group_cols, adj_weight_col)


def reservoir_union(samples: DataFrame, k: int, n_col: str, k_col: str,
                    group_cols: list[str] | None = None,
                    order_key: Column | None = None,
                    offset: float = 0.3819660112501051) -> DataFrame:
    """Union per-source reservoir samples into one k-sample (reference
    sampling/reservoir_items_union.go:122-253 semantics, Spark-first).

    Each input row is one sampled item tagged with its source reservoir's
    stream length n (`n_col`) and capacity k (`k_col`); its implicit
    weight is max(1, n/k) (exact-mode items weigh 1 — the reference's
    implicitSampleWeight and twoWayMergeInternalStandard/Weighted split).
    Drawing a fixed-size IPPS sample with those weights gives every
    ORIGINAL stream item the same first-order inclusion probability —
    PROVIDED no implicit weight is heavy, i.e. tau >= max_i(n_i/k_i): a
    heavy source's items would be kept with probability 1, giving their
    originals inclusion k_i/n_i != 1/tau. The reference guards this by
    capping the union capacity at MIN(k_1, k_2)
    (reservoir_items_union.go:44-45); callers here must do the same —
    choose k <= min(k_col) (the gate query does), or accept that
    uniformity degrades to "HT-unbiased but not first-order uniform"
    when k exceeds what the source weights support. Output keeps the
    input columns; the result reservoir's logical N is sum of the
    distinct sources' n."""
    if order_key is None:
        order_key = F.md5(F.concat_ws("|", *[F.col(c).cast("string")
                                             for c in samples.columns]))
    w = F.greatest(F.lit(1.0),
                   F.col(n_col).cast("double") / F.col(k_col).cast("double"))
    d = samples.withColumn("_iw", w)
    out = threshold_sample(d, k, "_iw", order_key, offset, group_cols,
                           adj_weight_col="_adj")
    return out.drop("_iw", "_adj")


def estimate_subset_sum(sample: DataFrame, predicate: Column,
                        population_size: int, sample_size: int) -> DataFrame:
    """Estimate the population count satisfying `predicate` from a uniform
    sample (reference EstimateSubsetSum semantics: count * N/n)."""
    scale = population_size / max(sample_size, 1)
    return sample.agg(
        (F.sum(F.when(predicate, 1).otherwise(0)) * F.lit(scale))
        .alias("estimated_count"),
        F.sum(F.when(predicate, 1).otherwise(0)).alias("sample_count"))


def varopt_subset_sum(sample: DataFrame, predicate: Column,
                      group_cols: list[str] | None = None,
                      adj_weight_col: str = "adj_weight") -> DataFrame:
    """VarOpt EstimateSubsetSum (reference sampling/varopt_items_sketch.go
    EstimateSubsetSum): the Horvitz-Thompson estimate of the population
    subset WEIGHT is the sum of adjusted weights over the matching sample
    rows — unbiased by construction (heavy items carry their exact
    weight; light items carry tau with inclusion probability w/tau)."""
    m = F.when(predicate, F.col(adj_weight_col)).otherwise(F.lit(0.0))
    agg_exprs = [
        F.sum(m).alias("estimate"),
        F.sum(F.when(predicate, 1).otherwise(0)).alias("sample_matches"),
    ]
    if group_cols:
        return sample.groupBy(*group_cols).agg(*agg_exprs)
    return sample.agg(*agg_exprs)
