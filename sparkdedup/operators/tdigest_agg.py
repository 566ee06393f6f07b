"""t-digest build / merge / quantile as a distributed Spark aggregation.

§2.4 t-digest as a full mergeable aggregation. Behavior spec: the
reference's merging t-digest (tdigest/double.go:102-563 — behavior cited,
no code copied);
algorithm from the PUBLISHED merging-t-digest design (Dunning & Ertl,
"Computing Extremely Accurate Quantiles Using t-Digests",
arXiv:1902.04023): clusters kept small near the tails via the k1 (arcsine)
scale function, merged greedily in mean order under the scale-function
weight budget.

Spark-first two-phase shape (same pattern as varopt_sample_scaled):
  phase 1 — mapInPandas: each (Arrow batch, group) slice compresses its
    raw values into <= ~2*delta centroids. Bounded state, no shuffle,
    map-side reduction of n rows -> O(delta) rows per slice.
  phase 2 — applyInPandas per group: concatenate the slices' centroids
    (already (mean, weight) pairs — t-digest merge treats weighted
    centroids exactly like weighted points) and compress once more.
t-digests are fully mergeable (the reference unions them the same way),
so accuracy composes: the merged digest obeys the same scale-function
bound as a single-pass digest at the same delta.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, StructField,
                               StructType)


def _k1(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    return delta / (2.0 * np.pi) * np.arcsin(2.0 * np.asarray(q) - 1.0)


def _k1_inv(k: np.ndarray | float, delta: float) -> np.ndarray | float:
    return (np.sin(np.asarray(k) * (2.0 * np.pi) / delta) + 1.0) / 2.0


def td_compress(means: np.ndarray, weights: np.ndarray,
                delta: float) -> tuple[np.ndarray, np.ndarray]:
    """Merge weighted points/centroids under the k1 scale budget,
    VECTORIZED by k-space bucketing: sort by mean, map each item's
    midpoint rank q to scale space, and cut clusters at integer k1
    boundaries — every resulting cluster spans < 1 unit of k-space, the
    same invariant the sequential greedy merge maintains, computed with
    one sort + one reduceat instead of a per-item Python loop (the r4
    bench showed the greedy loop at ~26s over sf0.1 lineitem; this form
    is ~100x cheaper and is how production merging digests vectorize).
    Returns (means, weights) ascending; centroid count is O(delta).
    Total weight is preserved EXACTLY (segment sums). Weighted centroids
    are valid inputs, which is what makes the digest mergeable."""
    if len(means) == 0:
        return means.astype(np.float64), weights.astype(np.float64)
    order = np.argsort(means, kind="stable")
    m = means[order].astype(np.float64)
    w = weights[order].astype(np.float64)
    total = float(w.sum())
    cum = np.cumsum(w)
    q_mid = np.clip((cum - w / 2.0) / total, 0.0, 1.0)
    kid = np.floor(_k1(q_mid, delta)).astype(np.int64)
    starts = np.flatnonzero(np.r_[True, kid[1:] != kid[:-1]])
    seg_w = np.add.reduceat(w, starts)
    seg_mw = np.add.reduceat(m * w, starts)
    # Clamp each merged mean into its segment's [min, max]: the fp-weighted
    # mean of a segment can land one ulp outside the segment's value range
    # (hypothesis counterexample: two equal-mean centroids -> merged mean
    # 2^-52 below the input mean), which would break the "means ascending"
    # contract td_quantile and searchsorted consumers rely on. m is sorted,
    # so segment min = m[start], segment max = m[end]; clamped means are
    # non-decreasing because m[end_i] <= m[start_{i+1}].
    ends = np.r_[starts[1:], len(m)] - 1
    return np.clip(seg_mw / seg_w, m[starts], m[ends]), seg_w


def td_quantile(means: np.ndarray, weights: np.ndarray, mn: float,
                mx: float, qs: np.ndarray) -> np.ndarray:
    """Quantile estimate: linear interpolation between centroid-midpoint
    ranks, clamped to [min, max] at the extremes."""
    if len(means) == 0:
        return np.full(len(qs), np.nan)
    w = weights.astype(np.float64)
    total = w.sum()
    cum = np.cumsum(w) - w / 2.0  # midpoint rank of each centroid
    xs = np.concatenate(([0.0], cum, [total]))
    ys = np.concatenate(([mn], means, [mx]))
    return np.interp(np.asarray(qs, dtype=np.float64) * total, xs, ys)


def _digest_schema(base_fields: list[StructField]) -> StructType:
    return StructType(base_fields + [
        StructField("means", ArrayType(DoubleType())),
        StructField("weights", ArrayType(DoubleType())),
        StructField("n", DoubleType()),
        StructField("min_item", DoubleType()),
        StructField("max_item", DoubleType()),
    ])


def tdigest_agg(df: DataFrame, value_col: str,
                group_cols: list[str] | None = None,
                delta: float = 100.0) -> DataFrame:
    """Aggregate `value_col` into one t-digest per group.

    Output: group cols + (means array<double>, weights array<double>,
    n double, min_item, max_item). n is EXACT (sum of weights is
    preserved by every merge); quantiles via tdigest_quantiles."""
    gcols = list(group_cols or [])
    spark_fields = [f for f in df.schema.fields if f.name in gcols]

    mid = _digest_schema(spark_fields)

    def _partial(batches):
        # Accumulate across the WHOLE partition's batch iterator before
        # compressing: the session pins Arrow batches small for the fat
        # document kernels (NOTES gotcha #2), so per-batch python work
        # here would run thousands of times per partition. Appending raw
        # arrays is O(1) per batch; one factorize + segmented compress at
        # the end does all the real work. Memory is bounded by FLUSH_AT:
        # past it the buffer is folded into centroid state and dropped.
        FLUSH_AT = 2_000_000
        vbufs: list[np.ndarray] = []
        gbufs: list[np.ndarray] = []
        state: dict[tuple, list] = {}  # key -> [means, weights, n, mn, mx]

        def fold():
            if not vbufs:
                return
            v = np.concatenate(vbufs)
            vbufs.clear()
            if gcols:
                g = np.concatenate(gbufs)
                gbufs.clear()
                codes, uniq = pd.factorize(g)
                order = np.argsort(codes, kind="stable")
                bounds = np.flatnonzero(
                    np.r_[True, codes[order][1:] != codes[order][:-1]])
                segs = np.split(order, bounds[1:])
                keys = [(uniq[codes[s[0]]],) for s in segs]
            else:
                segs, keys = [np.arange(len(v))], [()]
            for key, seg in zip(keys, segs):
                vv = v[seg]
                vv = vv[~np.isnan(vv)]
                if not len(vv):
                    continue
                m, w = td_compress(vv, np.ones(len(vv)), delta)
                st = state.get(key)
                if st is None:
                    state[key] = [m, w, float(len(vv)),
                                  float(vv.min()), float(vv.max())]
                else:
                    mm, ww = td_compress(np.concatenate([st[0], m]),
                                         np.concatenate([st[1], w]), delta)
                    state[key] = [mm, ww, st[2] + len(vv),
                                  min(st[3], float(vv.min())),
                                  max(st[4], float(vv.max()))]

        buffered = 0
        for pdf in batches:
            if not len(pdf):
                continue
            vbufs.append(pdf[value_col].to_numpy(dtype=np.float64))
            if gcols:
                gbufs.append(pdf[gcols[0]].to_numpy() if len(gcols) == 1
                             else pd.MultiIndex.from_frame(
                                 pdf[gcols]).to_numpy())
            buffered += len(pdf)
            if buffered >= FLUSH_AT:
                fold()
                buffered = 0
        fold()
        if state:
            rows = []
            for key, (m, w, n, mn, mx) in state.items():
                row = {}
                for i, c in enumerate(gcols):
                    row[c] = key[i] if len(gcols) == 1 else key[0][i]
                row.update({"means": m, "weights": w, "n": n,
                            "min_item": mn, "max_item": mx})
                rows.append(row)
            yield pd.DataFrame(rows)

    partial = df.select(*(gcols + [value_col])).mapInPandas(_partial, mid)

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.concatenate([np.asarray(x) for x in pdf["means"]])
        w = np.concatenate([np.asarray(x) for x in pdf["weights"]])
        mm, ww = td_compress(m, w, delta)
        out = {c: [pdf[c].iloc[0]] for c in gcols}
        out.update({"means": [mm], "weights": [ww],
                    "n": [float(pdf["n"].sum())],
                    "min_item": [float(pdf["min_item"].min())],
                    "max_item": [float(pdf["max_item"].max())]})
        return pd.DataFrame(out)

    if gcols:
        return partial.groupBy(*gcols).applyInPandas(_merge, mid)
    return partial.groupBy(F.lit(1).alias("_g")).applyInPandas(
        lambda key, pdf: _merge(pdf), mid)


def tdigest_quantiles(digests: DataFrame, qs: list[float],
                      group_cols: list[str] | None = None,
                      round_to: int = 4) -> DataFrame:
    """(group, q, value) — quantile estimates from tdigest_agg output."""
    gcols = list(group_cols or [])
    fields = [f for f in digests.schema.fields if f.name in gcols]
    schema = StructType(fields + [StructField("q", DoubleType()),
                                  StructField("value", DoubleType())])
    qarr = np.asarray(qs, dtype=np.float64)

    def run(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                vals = td_quantile(np.asarray(r["means"]),
                                   np.asarray(r["weights"]),
                                   r["min_item"], r["max_item"], qarr)
                out = {c: np.repeat(r[c], len(qarr)) for c in gcols}
                out.update({"q": qarr, "value": np.round(vals, round_to)})
                yield pd.DataFrame(out)

    return digests.mapInPandas(run, schema)
