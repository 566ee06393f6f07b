"""Candidate-pair verification: KMV Jaccard with the reference's bound
semantics (theta/jaccard_similarity.go:47-104), MinHash agreement, and
SimHash Hamming distance — one vectorized pandas pass per Arrow batch.

Input: candidate (src, dst) pairs joined with both sides' signatures.
Output: verified edges (src, dst, jaccard, jaccard_lb, jaccard_ub,
minhash_jaccard, hamming, source) filtered at cfg.jaccard_threshold.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.functions.segments import from_cells, seg_ids, within
from sparkdedup.functions.simhash import hamming_distance
from sparkdedup.functions.theta import pairwise_kmv_jaccard, pairwise_minhash_jaccard

EDGE_SCHEMA = (
    "src long, dst long, jaccard double, jaccard_lb double, jaccard_ub double, "
    "minhash_jaccard double, hamming int"
)


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
    lb, est, ub, _ = pairwise_kmv_jaccard(sa, ta, ca, sb, tb, cb)

    mh_j = pairwise_minhash_jaccard(_padded(pdf["minh_a"], cfg.num_perms),
                                    _padded(pdf["minh_b"], cfg.num_perms))

    ha = pdf["sim_a"].to_numpy(np.int64).view(np.uint64)
    hb = pdf["sim_b"].to_numpy(np.int64).view(np.uint64)
    ham = hamming_distance(ha, hb)

    return pd.DataFrame({
        "src": pdf["src"], "dst": pdf["dst"],
        "jaccard": est, "jaccard_lb": lb, "jaccard_ub": ub,
        "minhash_jaccard": mh_j, "hamming": ham.astype(np.int32),
    })


def verify_candidates(pairs: DataFrame, signatures: DataFrame,
                      cfg: DedupConfig) -> DataFrame:
    """Join pair ids with both signatures and verify; keep jaccard >= tau.

    Two shuffle equi-joins on file_id (sort-merge / shuffled-hash, AQE
    decides); the verification itself is numpy per batch.
    """
    sig = signatures.select(
        "file_id",
        F.col("kmv"), F.col("kmv_theta"), F.col("kmv_count"),
        F.col("minh"), F.col("simhash"))

    a = sig.select(F.col("file_id").alias("src"),
                   F.col("kmv").alias("kmv_a"), F.col("kmv_theta").alias("theta_a"),
                   F.col("kmv_count").alias("count_a"), F.col("minh").alias("minh_a"),
                   F.col("simhash").alias("sim_a"))
    b = sig.select(F.col("file_id").alias("dst"),
                   F.col("kmv").alias("kmv_b"), F.col("kmv_theta").alias("theta_b"),
                   F.col("kmv_count").alias("count_b"), F.col("minh").alias("minh_b"),
                   F.col("simhash").alias("sim_b"))

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
