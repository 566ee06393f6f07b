"""Tuple-sketch aggregate: theta/KMV with per-hash payload summaries.

Reference semantics (tuple/update_sketch.go:36-49, tuple/sketch.go:26-40):
a theta sketch where every retained hash carries a user value, updated on
insert and combined by a Policy on union hash-match
(theta/set_operation.go:36-47); the policy here is sum. Spark
re-expression: the sketch is a pair of aligned arrays (entries,
payloads); the update phase sums payloads per retained hash inside each
Arrow batch; the union phase merges partials with theta'=min + k-trim and
sums the payloads of colliding hashes.

The canonical use (ArrayOfNumbers / aod sketches) is "distinct keys with a
numeric summary per key, at bounded memory": e.g. estimated distinct users
AND their estimated total spend per group from a k-sized sample.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.functions.murmur3 import murmur3_128_strings
from sparkdedup.functions.segments import cells, from_cells, smallest_k
from sparkdedup.functions.theta import MAX_THETA

U64 = np.uint64


def _update_batch(groups: pd.Series, keys: pd.Series, payload: np.ndarray,
                  k: int, seed: int):
    """Partial tuple sketches for EVERY group in one batch, fully
    vectorized: one factorize + one murmur pass over the whole batch, one
    lexsort by (group, hash), run-length payload reduction, then the k
    smallest hashes per group (no per-group Python).

    Returns (group values, entries cells, payload cells, theta), aligned
    per group; a group whose every hash screened to 0 gets empty cells."""
    h1, _ = murmur3_128_strings(keys.astype(str), seed)
    hu_all = h1 >> U64(1)
    gcodes, guniq = pd.factorize(groups.astype(str))
    keep = hu_all != U64(0)
    h, g, p = hu_all[keep], gcodes[keep], payload[keep]
    order = np.lexsort((h, g))
    hs, gs, ps = h[order], g[order], p[order]
    # sum payload per (group, hash) run; after the JVM pre-aggregation a
    # run holds more than one key only on a hash collision
    new_run = np.r_[True, (gs[1:] != gs[:-1]) | (hs[1:] != hs[:-1])] \
        if len(gs) else np.empty(0, bool)
    run_starts = np.flatnonzero(new_run)
    sums = np.add.reduceat(ps, run_starts) if len(run_starts) \
        else np.empty(0, np.float64)
    uh = hs[run_starts]  # hash-sorted within each group
    counts = np.bincount(gs[run_starts], minlength=len(guniq))
    kept, n_kept, theta = smallest_k(uh, counts, k)
    return (guniq, cells(uh[kept].view(np.int64), n_kept),
            cells(sums[kept], n_kept), theta)


def _merge_tuple(all_h: np.ndarray, all_v: np.ndarray, theta: int, k: int):
    """Union partial tuple sketches, given as their concatenated entries
    and payloads and their min theta: sum on hash collisions, trim to k
    smallest."""
    m = all_h < U64(theta)
    all_h, all_v = all_h[m], all_v[m]
    if len(all_h) == 0:
        return all_h, all_v, theta
    order = np.argsort(all_h, kind="stable")
    h, v = all_h[order], all_v[order]
    starts = np.flatnonzero(np.r_[True, h[1:] != h[:-1]])
    uh = h[starts]
    uv = np.add.reduceat(v, starts)
    if len(uh) > k:
        theta = int(uh[k])
        uh, uv = uh[:k], uv[:k]
    return uh, uv, theta


def tuple_sketch_agg(df: DataFrame, group_col: str, key_col: str,
                     payload_col: str, k: int = 256,
                     seed: int = 9001) -> DataFrame:
    """Per group: estimated distinct keys + estimated payload total over
    the distinct-key population (payload scaled by 1/theta like the count).

    The input is first reduced to one row per (group, key) with the
    summed payload in a JVM hash aggregate (map-side combine), so the
    Python kernel hashes DISTINCT keys instead of raw rows.

    Output: (group, n_distinct_est double, payload_total_est double,
             n_retained int)."""
    df = (df.groupBy(group_col, key_col)
          .agg(F.sum(payload_col).alias(payload_col)))

    partial_schema = (f"{group_col} string, entries array<long>, "
                      "payloads array<double>, theta long")

    def update(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            payload = pdf[payload_col].astype(float).to_numpy()
            yield pd.DataFrame(dict(zip(
                [group_col, "entries", "payloads", "theta"],
                _update_batch(pdf[group_col], pdf[key_col], payload, k,
                              seed))))

    partials = df.select(group_col, key_col, payload_col).mapInPandas(
        update, schema=partial_schema)

    out_schema = (f"{group_col} string, n_distinct_est double, "
                  "payload_total_est double, n_retained int")

    def union(key, pdf: pd.DataFrame) -> pd.DataFrame:
        uh, uv, theta = _merge_tuple(
            from_cells(pdf["entries"])[0].view(U64),
            from_cells(pdf["payloads"], pa.float64())[0],
            int(pdf["theta"].min()), k)
        f = theta / float(MAX_THETA)
        return pd.DataFrame({
            group_col: [key[0]],
            "n_distinct_est": [len(uh) / f],
            "payload_total_est": [float(uv.sum()) / f],
            "n_retained": [len(uh)],
        })

    return partials.groupBy(group_col).applyInPandas(union, schema=out_schema)
