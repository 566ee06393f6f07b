"""Distributed KMV/theta distinct-count aggregation.

This is the reference's designed distribution seam made literal
(SURVEY.md §3.1: "the union operation IS the distribution seam"):
  phase 1 (update, theta/update_sketch.go semantics): per-Arrow-batch
    partial KMV sketches per group — embarrassingly parallel mapInPandas;
  phase 2 (union, theta/union.go:79-210 semantics): per-group merge of
    partial sketches (theta' = min, keep k smallest) in applyInPandas,
    then estimate = k_retained / theta.

The exchange between the phases is the one shuffle, carrying only
(group, <=k longs) per partition — the same partial/final shape Spark's
own HLL aggregate uses, but with theta/KMV semantics and murmur3 parity.
The update phase runs on groups as the segments of functions/segments.py
(`sort_unique` + `smallest_k` over all groups at once, no per-group loop).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType

from sparkdedup.functions.murmur3 import murmur3_128_strings
from sparkdedup.functions.segments import (cells, from_cells, smallest_k,
                                           sort_unique)
from sparkdedup.functions.theta import MAX_THETA, KmvSketch

U64 = np.uint64


def kmv_distinct_agg(df: DataFrame, group_col: str, value_col: str,
                     k: int = 256, seed: int = 9001) -> DataFrame:
    """(group, n_distinct_est double, n_retained int, theta_frac double).

    Values are hashed with the reference's murmur3-128 h1 >> 1 screening;
    distinct-count estimate follows compact-sketch semantics
    (num_retained / theta). An ARRAY-typed value_col is flattened
    in-kernel — pass token arrays instead of pre-exploding so Arrow
    batches stay fat (one row per document)."""
    values_are_arrays = isinstance(df.schema[value_col].dataType, ArrayType)

    partial_schema = f"{group_col} string, entries array<long>, theta long"

    def update_phase(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            if values_are_arrays:
                flat, lens = from_cells(pdf[value_col], None)
                vals = pd.Series(flat, dtype=object).astype(str)
                groups_all = np.repeat(
                    pdf[group_col].astype(str).to_numpy(), lens)
            else:
                vals = pdf[value_col].astype(str)
                groups_all = pdf[group_col].astype(str).to_numpy()
            h1, _ = murmur3_128_strings(vals, seed)
            hashes = h1 >> U64(1)
            gcodes, guniq = pd.factorize(groups_all)
            # a group whose every hash screened to 0 (astronomically rare)
            # keeps its row: an empty partial, so it appears downstream
            keep = hashes != U64(0)
            u, counts = sort_unique(hashes[keep], gcodes[keep], len(guniq))
            kept, n_kept, theta = smallest_k(u, counts, k)
            yield pd.DataFrame({
                group_col: guniq,
                "entries": cells(u[kept].view(np.int64), n_kept),
                "theta": theta})

    partials = df.select(group_col, value_col).mapInPandas(
        update_phase, schema=partial_schema)

    result_schema = (f"{group_col} string, n_distinct_est double, "
                     "n_retained int, theta_frac double")

    def union_phase(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # multiway union in one pass (order-independent, same result as
        # pairwise kmv_union folds): theta' = min, keep < theta', k-trim
        theta = int(pdf["theta"].min()) if len(pdf) else MAX_THETA
        all_h = np.unique(from_cells(pdf["entries"])[0].view(U64))
        all_h = all_h[all_h < U64(theta)]
        if len(all_h) > k:
            theta = int(all_h[k])
            all_h = all_h[:k]
        merged = KmvSketch(all_h, theta)
        return pd.DataFrame({
            group_col: [key[0]],
            "n_distinct_est": [merged.estimate()],
            "n_retained": [merged.num_retained],
            "theta_frac": [merged.theta / float(MAX_THETA)],
        })

    return partials.groupBy(group_col).applyInPandas(
        union_phase, schema=result_schema)
