"""Quantile sketches — KLL, REQ and t-digest — as one two-phase Spark
aggregation: phase 1 builds a partial sketch per (partition, group) in
`mapInPandas`, phase 2 merges the partials per group in `applyInPandas`.
`_two_phase` owns that seam; each sketch supplies update/columns/merge.

KLL (Karnin, Lang & Liberty, "Optimal Quantile Approximation in Streams",
FOCS 2016; behavior spec: the reference kll/sketch.go, no code copied): a
compactor chain whose level capacities shrink geometrically
(cap_l = max(ceil(k * c^(H-1-l)), m), c = 2/3, m = 8 — the reference's
constants), giving additive eps*n rank error with eps = O(1/k) at
O(k log log n) retained items.

REQ (Cormode, Karnin, Liberty, Thaler & Veselý, "Relative Error Streaming
Quantiles", arXiv:2004.01668; behavior spec: the reference
req/sketch.go:61-560). KLL's ADDITIVE rank error eps*n swallows the whole
tail at p99.99. The REQ chain in HRA mode PROTECTS the highest k items of
every compacted level, so rank error at rank r scales with the TAIL mass
(n - r); LRA mode is the mirror image (req/sketch.go:47-76).

Exact invariants of both chains (the hash-gateable part): every
compaction replaces an even-size section of 2m items at weight 2^l with m
items at weight 2^(l+1), so TOTAL WEIGHT == n exactly at all times, and
min/max are tracked exactly. The alternating-offset coin is derived
deterministically from the compaction counter (the paper's random coin
makes the estimator exactly unbiased; a deterministic alternation keeps
the same worst-case error bound and makes runs reproducible — the trade
the reference also offers via its deterministic-testing mode). Merge
replays retained (value, 2^level) items into a fresh chain.

t-digest (Dunning & Ertl, "Computing Extremely Accurate Quantiles Using
t-Digests", arXiv:1902.04023; behavior spec: the reference
tdigest/double.go:102-563): clusters kept small near the tails via the k1
(arcsine) scale function. Weighted centroids are valid inputs, so the
merged digest obeys the same bound as a single-pass one at the same delta.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

_STAT_FIELDS = [StructField("n", DoubleType()),
                StructField("min_item", DoubleType()),
                StructField("max_item", DoubleType())]


def _two_phase(df: DataFrame, value_col: str, group_cols, sketch_fields,
               update, columns, merge) -> DataFrame:
    """One sketch per group of `value_col`: group cols + the sketch's
    `sketch_fields` + (n, min_item, max_item), all three EXACT.

    update(state | None, values) -> state folds non-NaN values into a
    group's partial; columns(state) -> {field: array} renders a sketch;
    merge(partials_pdf) -> state merges one group's partial rows."""
    gcols = list(group_cols or [])
    schema = StructType([f for f in df.schema.fields if f.name in gcols]
                        + sketch_fields + _STAT_FIELDS)

    def _row(row, sketch, n, mn, mx):
        row.update(columns(sketch))
        row.update({"n": n, "min_item": mn, "max_item": mx})
        return row

    def _partial(batches):
        # Accumulate across the whole partition's batch iterator: the
        # session pins Arrow batches small for the document kernels, so
        # per-batch python work here would run thousands of times per
        # partition. Appending raw arrays is O(1) per batch; one factorize
        # + per-group update does the real work. Memory is bounded by
        # FLUSH_AT: past it the buffer folds into sketch state and drops.
        FLUSH_AT = 2_000_000
        vbufs: list[np.ndarray] = []
        gbufs: list[np.ndarray] = []
        state: dict = {}  # key -> [sketch, n, mn, mx]

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
                keys = [uniq[codes[s[0]]] for s in segs]
            else:
                segs, keys = [np.arange(len(v))], [()]
            for key, seg in zip(keys, segs):
                vv = v[seg]
                vv = vv[~np.isnan(vv)]
                if not len(vv):
                    continue
                st = state.setdefault(key, [None, 0.0, np.inf, -np.inf])
                st[0] = update(st[0], vv)
                st[1] += len(vv)
                st[2] = min(st[2], float(vv.min()))
                st[3] = max(st[3], float(vv.max()))

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
            # a key is a scalar for one group column, a tuple for several
            yield pd.DataFrame([
                _row(dict(zip(gcols, key if len(gcols) > 1 else [key])), *st)
                for key, st in state.items()])

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        row = _row({c: pdf[c].iloc[0] for c in gcols},
                   merge(pdf), float(pdf["n"].sum()),
                   float(pdf["min_item"].min()),
                   float(pdf["max_item"].max()))
        return pd.DataFrame({c: [v] for c, v in row.items()})

    partial = df.select(*(gcols + [value_col])).mapInPandas(_partial, schema)
    if gcols:
        return partial.groupBy(*gcols).applyInPandas(_merge, schema)
    return partial.groupBy(F.lit(1).alias("_g")).applyInPandas(
        lambda key, pdf: _merge(pdf), schema)


def _read_rows(sketches: DataFrame, group_cols, out_cols: list[str],
               read) -> DataFrame:
    """(group, *out_cols) — read(row) -> {col: array} per sketch row, the
    row's group values repeated alongside. Runs distributed, per row."""
    gcols = list(group_cols or [])
    schema = StructType([f for f in sketches.schema.fields if f.name in gcols]
                        + [StructField(c, DoubleType()) for c in out_cols])

    def run(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                cols = read(r)
                reps = len(cols[out_cols[0]])
                out = {c: np.repeat(r[c], reps) for c in gcols}
                out.update(cols)
                yield pd.DataFrame(out)

    return sketches.mapInPandas(run, schema)


class _Chain:
    """Compactor chain over float64 values; level l holds items of weight
    2^l. A level past `_cap` is sorted, `_split` into an even-size section
    to compact and the items it keeps, and alternate items of the section
    (deterministic coin) move up one level."""

    def __init__(self, k: int):
        self.k = k
        self.levels: list[list[float]] = [[]]
        self.coins = 0  # compaction counter -> deterministic coin

    def update(self, values: np.ndarray, level: int = 0) -> None:
        while len(self.levels) <= level:
            self.levels.append([])
        self.levels[level].extend(values.tolist())
        lvl = 0
        while lvl < len(self.levels):
            if len(self.levels[lvl]) > self._cap(lvl):
                arr = np.sort(np.asarray(self.levels[lvl], dtype=np.float64))
                sec, keep = self._split(arr)
                offset = self.coins & 1
                self.coins += 1
                if lvl + 1 >= len(self.levels):
                    self.levels.append([])
                self.levels[lvl + 1].extend(sec[offset::2].tolist())
                self.levels[lvl] = keep.tolist()
            lvl += 1

    def items(self) -> tuple[np.ndarray, np.ndarray]:
        """(values, weights) of every retained item, level by level."""
        vals = [x for b in self.levels for x in b]
        lv = np.repeat(np.arange(len(self.levels), dtype=np.int64),
                       [len(b) for b in self.levels])
        return np.asarray(vals, np.float64), np.int64(1) << lv

    def total_weight(self) -> int:
        return sum(len(b) * (1 << l) for l, b in enumerate(self.levels))

    def num_retained(self) -> int:
        return sum(len(b) for b in self.levels)


class _KllChain(_Chain):
    """KLL: capacities shrink geometrically below the top level; a
    compaction keeps the EVEN prefix of the sorted level and leaves an odd
    leftover in place."""

    C, M = 2.0 / 3.0, 8

    def __init__(self, k: int = 200):
        if k < self.M:
            raise ValueError("k must be >= m")
        super().__init__(k)

    def _cap(self, lvl: int) -> int:
        h = len(self.levels)
        return max(int(np.ceil(self.k * self.C ** (h - 1 - lvl))), self.M)

    def _split(self, arr):
        even = len(arr) & ~1  # largest even prefix count
        return arr[:even], arr[even:]


class _ReqChain(_Chain):
    """REQ: hra=True (default) protects the HIGH end of every level buffer
    — relative rank error at rank r scales with the tail mass n - r.
    hra=False is LRA: the LOWEST k items survive every compaction at full
    resolution, so p0.001-style HEAD quantiles stay meaningful, and level
    0's protected bottom retains the true global bottom-k exactly (the
    property req_bottomk_prices gates)."""

    def __init__(self, k: int, hra: bool = True):
        if k < 4 or k % 2:
            raise ValueError("k must be even and >= 4")
        super().__init__(k)
        self.hra = hra

    def _cap(self, lvl: int) -> int:
        # higher levels may shrink in the paper; fixed 2k keeps the
        # analysis envelope and simplifies merge
        return 2 * self.k

    def _split(self, arr):
        # protect k items at one end (one more if needed to keep the
        # compacted section even, so total weight stays exact)
        p = self.k + ((len(arr) - self.k) & 1)
        if self.hra:
            return arr[:-p], arr[-p:]
        return arr[p:], arr[:p]


_CHAIN_FIELDS = [StructField("levels", ArrayType(LongType())),
                 StructField("values", ArrayType(DoubleType()))]


def _chain_agg(df, value_col, group_cols, make) -> DataFrame:
    def update(ch, values):
        ch = make() if ch is None else ch
        ch.update(values)
        return ch

    def columns(ch):
        vals, wts = ch.items()
        return {"levels": np.log2(wts).astype(np.int64), "values": vals}

    def merge(pdf):
        ch = make()
        for lv, va in zip(pdf["levels"], pdf["values"]):
            lv = np.asarray(lv, dtype=np.int64)
            va = np.asarray(va, dtype=np.float64)
            for lvl in np.unique(lv):
                ch.update(va[lv == lvl], int(lvl))
        return ch

    return _two_phase(df, value_col, group_cols, _CHAIN_FIELDS,
                      update, columns, merge)


def kll_agg(df: DataFrame, value_col: str,
            group_cols: list[str] | None = None, k: int = 200) -> DataFrame:
    """Aggregate `value_col` into one KLL sketch per group. Output:
    group cols + (levels array<long> — per retained item, values
    array<double>, n EXACT, min_item, max_item exact)."""
    return _chain_agg(df, value_col, group_cols, lambda: _KllChain(k))


def req_agg(df: DataFrame, value_col: str,
            group_cols: list[str] | None = None, k: int = 64,
            hra: bool = True) -> DataFrame:
    """Aggregate `value_col` into one REQ sketch per group (hra=True:
    high-rank-accuracy; hra=False: LRA, the low-end mirror). Output as
    kll_agg."""
    return _chain_agg(df, value_col, group_cols, lambda: _ReqChain(k, hra))


def weighted_quantile(values: np.ndarray, weights: np.ndarray,
                      qs: np.ndarray) -> np.ndarray:
    """Weighted quantile: smallest retained value whose cumulative weight
    reaches q*N (reference sorted-view semantics)."""
    order = np.argsort(values, kind="stable")
    v, w = values[order], weights[order].astype(np.float64)
    cum = np.cumsum(w)
    targets = np.asarray(qs, dtype=np.float64) * cum[-1]
    idx = np.minimum(np.searchsorted(cum, targets, side="left"), len(v) - 1)
    return v[idx]


def kll_rank_cdf_pmf(values: np.ndarray, weights: np.ndarray,
                     xs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """INCLUSIVE normalized rank / CDF / PMF readers over retained items
    (reference kll/items_sketch.go:254-440 sorted-view surface): the
    chain already retains (value, 2^level weight) pairs, so rank(x) is a
    sorted cumsum lookup — cdf[i] = weight of items <= xs[i] over total
    weight, pmf[i] = cdf[i] - cdf[i-1] (mass in (xs[i-1], xs[i]]).
    EXACT whenever the chain never compacted (the same exact-regime
    contract kll_agg_quantiles gates); the eps*n rank envelope otherwise.
    Returns (cdf, pmf), each len(xs)."""
    order = np.argsort(values, kind="stable")
    v, w = values[order], weights[order].astype(np.float64)
    cum = np.cumsum(w)
    total = cum[-1]
    idx = np.searchsorted(v, np.asarray(xs, dtype=np.float64),
                          side="right")
    cdf = np.where(idx > 0, cum[np.maximum(idx - 1, 0)], 0.0) / total
    pmf = np.diff(cdf, prepend=0.0)
    return cdf, pmf


def _chain_levels(r, require_single_level: bool) -> np.ndarray:
    """The row's per-item levels. require_single_level=True enforces the
    EXACT-REGIME contract at runtime: callers that promise exact order
    statistics (k >= every group's count, so no level ever compacted) get
    a hard task failure — not silently approximate values — if a merged
    chain holds items above level 0."""
    lv = np.asarray(r["levels"], dtype=np.int64)
    if require_single_level and (lv != 0).any():
        raise RuntimeError(
            "KLL exact-regime contract violated: merged chain has items "
            f"at levels {np.unique(lv[lv != 0]).tolist()} (it compacted). "
            "Size k >= the largest group's count, or drop "
            "require_single_level to accept the probabilistic envelope.")
    return lv


def kll_agg_quantiles(sketches: DataFrame, qs: list[float],
                      group_cols: list[str] | None = None,
                      round_to: int = 4,
                      require_single_level: bool = False) -> DataFrame:
    """(group, q, value) — quantile estimates from kll_agg or req_agg
    output, with the exact-regime guard of _chain_levels."""
    qarr = np.asarray(qs, dtype=np.float64)

    def read(r):
        lv = _chain_levels(r, require_single_level)
        vals = weighted_quantile(np.asarray(r["values"]),
                                 np.int64(1) << lv, qarr)
        return {"q": qarr, "value": np.round(vals, round_to)}

    return _read_rows(sketches, group_cols, ["q", "value"], read)


def kll_agg_cdf(sketches: DataFrame, split_points: list[float],
                group_cols: list[str] | None = None,
                round_to: int = 6,
                require_single_level: bool = False) -> DataFrame:
    """(group, x, cdf, pmf) per split point — the rank/CDF/PMF reader
    over kll_agg output, with the exact-regime guard of _chain_levels."""
    xs = np.asarray(sorted(split_points), dtype=np.float64)

    def read(r):
        lv = _chain_levels(r, require_single_level)
        cdf, pmf = kll_rank_cdf_pmf(np.asarray(r["values"]),
                                    np.int64(1) << lv, xs)
        return {"x": xs, "cdf": np.round(cdf, round_to),
                "pmf": np.round(pmf, round_to)}

    return _read_rows(sketches, group_cols, ["x", "cdf", "pmf"], read)


def _k1(q: np.ndarray | float, delta: float) -> np.ndarray | float:
    return delta / (2.0 * np.pi) * np.arcsin(2.0 * np.asarray(q) - 1.0)


def td_compress(means: np.ndarray, weights: np.ndarray,
                delta: float) -> tuple[np.ndarray, np.ndarray]:
    """Merge weighted points/centroids under the k1 scale budget,
    VECTORIZED by k-space bucketing: sort by mean, map each item's
    midpoint rank q to scale space, and cut clusters at integer k1
    boundaries — every resulting cluster spans < 1 unit of k-space, the
    same invariant the sequential greedy merge maintains, computed with
    one sort + one reduceat instead of a per-item Python loop (~100x
    cheaper; how production merging digests vectorize).
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


def tdigest_agg(df: DataFrame, value_col: str,
                group_cols: list[str] | None = None,
                delta: float = 100.0) -> DataFrame:
    """Aggregate `value_col` into one t-digest per group: each partial
    compresses its values into O(delta) centroids; the merge concatenates
    the partials' centroids and compresses once more. Output: group cols + (means array<double>, weights array<double>,
    n double, min_item, max_item). n is EXACT (sum of weights is
    preserved by every merge); quantiles via tdigest_quantiles."""
    def update(st, values):
        m, w = td_compress(values, np.ones(len(values)), delta)
        if st is None:
            return m, w
        return td_compress(np.concatenate([st[0], m]),
                           np.concatenate([st[1], w]), delta)

    def merge(pdf):
        return td_compress(
            np.concatenate([np.asarray(x) for x in pdf["means"]]),
            np.concatenate([np.asarray(x) for x in pdf["weights"]]), delta)

    return _two_phase(
        df, value_col, group_cols,
        [StructField("means", ArrayType(DoubleType())),
         StructField("weights", ArrayType(DoubleType()))],
        update, lambda st: {"means": st[0], "weights": st[1]}, merge)


def tdigest_quantiles(digests: DataFrame, qs: list[float],
                      group_cols: list[str] | None = None,
                      round_to: int = 4) -> DataFrame:
    """(group, q, value) — quantile estimates from tdigest_agg output."""
    qarr = np.asarray(qs, dtype=np.float64)

    def read(r):
        vals = td_quantile(np.asarray(r["means"]), np.asarray(r["weights"]),
                           r["min_item"], r["max_item"], qarr)
        return {"q": qarr, "value": np.round(vals, round_to)}

    return _read_rows(digests, group_cols, ["q", "value"], read)
