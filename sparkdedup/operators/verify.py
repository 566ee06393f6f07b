"""Candidate-pair verification: KMV Jaccard with the reference's bound
semantics (theta/jaccard_similarity.go:47-104; functions/theta.py::
pairwise_kmv_jaccard) — one vectorized pandas pass per Arrow batch.

Input: candidate (src, dst) pairs joined with both sides' KMV sketches.
Output: verified edges (src, dst, jaccard) with the KMV estimate kept at
cfg.jaccard_threshold.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.functions.segments import from_cells, seg_ids, within
from sparkdedup.functions.theta import pairwise_kmv_jaccard

EDGE_SCHEMA = "src long, dst long, jaccard double"


def _padded(col: pd.Series, k: int) -> np.ndarray:
    """(n, k) uint64 from a column of <= k-long int64 array cells, each
    row zero-padded (fixed-width cells simply stack)."""
    flat, counts = from_cells(col)
    out = np.zeros((len(counts), k), dtype=np.uint64)
    out[seg_ids(counts), within(counts)] = flat.view(np.uint64)
    return out


def verify_pairs_pdf(pdf: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame:
    k = cfg.kmv_k
    sa = _padded(pdf["kmv_a"], k)
    sb = _padded(pdf["kmv_b"], k)
    ta = pdf["theta_a"].to_numpy(np.int64).view(np.uint64)
    tb = pdf["theta_b"].to_numpy(np.int64).view(np.uint64)
    ca = pdf["count_a"].to_numpy(np.int64)
    cb = pdf["count_b"].to_numpy(np.int64)
    _, est, _, _ = pairwise_kmv_jaccard(sa, ta, ca, sb, tb, cb)
    return pd.DataFrame({"src": pdf["src"], "dst": pdf["dst"], "jaccard": est})


def verify_candidates(pairs: DataFrame, signatures: DataFrame,
                      cfg: DedupConfig) -> DataFrame:
    """Join pair ids with both signatures and verify; keep jaccard >= tau.

    Two shuffle equi-joins on file_id (sort-merge / shuffled-hash, AQE
    decides); the verification itself is numpy per batch.
    """
    def side(key: str, s: str) -> DataFrame:
        return signatures.select(
            F.col("file_id").alias(key), F.col("kmv").alias(f"kmv_{s}"),
            F.col("kmv_theta").alias(f"theta_{s}"),
            F.col("kmv_count").alias(f"count_{s}"))

    a, b = side("src", "a"), side("dst", "b")

    # hash joins with the (small) pair side as build: the signature table
    # carries fat sketch columns, and the default sort-merge plan sorts it
    # twice; a hash build on the skinny side never sorts the payload
    joined = (pairs.hint("shuffle_hash").join(a, "src")
              .hint("shuffle_hash").join(b, "dst"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield verify_pairs_pdf(pdf, cfg)

    edges = joined.mapInPandas(run, schema=EDGE_SCHEMA)
    return edges.filter(F.col("jaccard") >= cfg.jaccard_threshold)
