"""Substring-containment pass: winnowed-anchor candidates + exact verify.

A file A pasted verbatim inside a larger file B makes A's positional
shingle-hash stream a run of B's, so every w-window minimum A probes with
is also a window minimum B keeps at the occurrence offset (MOSS-style
winnowing). Candidate generation is therefore one probe->index equi-join
on anchor values, with hot anchors (boilerplate shingles, huge posting
lists) dropped by a posting cap — that is the skew guard, same reasoning
as LSH bucket caps. A containee needs >= containment_anchor_window
shingles to be found.

Verification is exact: join contents and check substring containment
JVM-side (F.instr) — zero false positives, which makes this pass's output
the ground truth for `contained` pairs at any scale.
The catalog's `winnowed_gram_index` runs the signature stage's winnowing
kernel on the flat (values, counts) layout of functions/segments.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig


def winnowed_gram_index(docs: DataFrame, id_col: str, text_col: str,
                        anch: int = 24, w: int = 16,
                        probe_only: bool = False) -> DataFrame:
    """Winnowed substring-anchor index (MOSS-style, exact recall).

    Index side (probe_only=False): (id, gh) rows where gh ranges over the
    DISTINCT minima of every w-window of the doc's anch-byte-gram murmur3
    hashes — expected density 2/(w+1), i.e. a ~w/2 x smaller index than
    indexing every gram. Probe side (probe_only=True): ONE row per doc,
    gh = min over the doc's first w gram hashes.

    Guarantee: if ta occurs in tb (byte-wise; utf-8 substring relations
    are preserved) and ta has >= w grams, ta's probe value equals tb's
    window minimum of the w-window at the occurrence offset, which the
    index keeps — perfect candidate recall, so an exact verifier
    downstream makes the result exact. Implemented as a numpy kernel per
    Arrow batch: every gram of the batch hashed in one segmented murmur3
    call, then the pipeline's O(n) window minima
    (signatures._anchors_and_probes with one probe block) — docs with
    fewer than w grams emit nothing. (Spark 4.1's codegen for the
    equivalent nested higher-order-function expressions is unreliable:
    flaky INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on self-joined reused
    scans.)"""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sparkdedup.functions.murmur3 import murmur3_128_bytes_segmented
        from sparkdedup.functions.segments import (encode_texts, ranges,
                                                   seg_ids)
        from sparkdedup.operators.signatures import _anchors_and_probes

        for pdf in batches:
            flat, lens, doc_starts = encode_texts(pdf[text_col], b"")
            n = len(lens)
            n_grams = lens - anch + 1
            # the probe side needs only each doc's first w grams
            per_doc = np.where(n_grams < w, 0, w if probe_only else n_grams)
            total = int(per_doc.sum())
            if total == 0:
                continue
            h, _ = murmur3_128_bytes_segmented(
                flat, ranges(doc_starts, per_doc),
                np.full(total, anch, np.int64), 9001)
            anchors, n_anchors, probes, n_probes = _anchors_and_probes(
                h, seg_ids(per_doc), n, w, 1)
            gh, counts = (probes, n_probes) if probe_only else \
                (anchors, n_anchors)
            yield pd.DataFrame({
                "id": np.repeat(pdf[id_col].to_numpy(np.int64), counts),
                "gh": gh})

    return (docs.select(id_col, text_col)
            .mapInPandas(run, schema="id long, gh long")
            .withColumnRenamed("id", id_col))


def anchor_containment_candidates(signatures: DataFrame,
                                  cfg: DedupConfig) -> DataFrame:
    """Distinct (src, dst) candidates from the winnowed shingle-stream
    anchor index (the pipeline's containment candidate generator).

    Index side: explode(anchors) — ~2/(w+1) rows per shingle position,
    ~2·n/w per doc. Probe side: explode(probes) — <= containment_probe_
    blocks rows per doc. A containee A (>= w shingles, token-aligned
    paste) is guaranteed to hit: each probe of A is the window minimum of
    one of A's own w-blocks, and B keeps the identical window minimum at
    the occurrence offset (MOSS argument, _anchors_and_probes docstring).

    Scale shape: ONE probe->index equi-join with a tiny probe side, no
    self-join and NO pair-count aggregation (the guarantee is per-probe,
    not count-based); worst-case join output is n_probes * posting_cap
    per doc, bounded by the same hot-posting cap that kills
    boilerplate-header buckets (shared license headers make identical
    window minima across a whole group — exactly the mega-bucket skew
    guard reasoning as LSH caps).
    """
    idx = signatures.select(
        F.col("file_id").alias("dst"), F.col("n_shingles").alias("nb"),
        F.explode("anchors").alias("gh"))
    hot = idx.groupBy("gh").agg(F.count("*").alias("plen"))
    idx = (idx.join(hot, "gh")
           .filter(F.col("plen") <= cfg.containment_posting_cap)
           .drop("plen"))
    prb = signatures.select(
        F.col("file_id").alias("src"), F.col("n_shingles").alias("na"),
        F.explode("probes").alias("gh"))
    return (
        idx.join(prb, "gh")
        .filter((F.col("src") != F.col("dst")) & (F.col("na") <= F.col("nb")))
        .select("src", "dst")
        .distinct()
    )


def verify_containment(candidates: DataFrame, files_with_id: DataFrame,
                       cfg: DedupConfig) -> DataFrame:
    """Exact substring check: content(src) inside content(dst).

    files_with_id: (file_id, content). Returns the (src, dst) edges
    where dst's content contains src's content verbatim.
    """
    ca = files_with_id.select(F.col("file_id").alias("src"),
                              F.col("content").alias("content_a"))
    cb = files_with_id.select(F.col("file_id").alias("dst"),
                              F.col("content").alias("content_b"))
    return (
        candidates.join(ca, "src").join(cb, "dst")
        .filter(F.instr(F.col("content_b"), F.col("content_a")) > 0)
        .select("src", "dst")
    )
