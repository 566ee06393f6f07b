"""Signature stage: files -> per-file dedup signatures, one mapInPandas pass.

All math is vectorized numpy over Arrow batches on the flat layout of
functions/segments.py; per-row Python is only the C-speed hashlib/encode
calls and `sort_unique`'s per-document sort. The stage computes, per file:
  file_id   - murmur3-128(h1, seed 42) of repo\\0path\\0commit (int64)
  sha       - sha256 hex of content (per-row invariant vs source table)
  n_tokens / n_shingles
  kmv       - k=128 minimum values of 5-gram shingle hashes (sorted,
              theta semantics: reference theta/hashtable.go:104-116)
  kmv_theta / kmv_count
  simhash   - 64-bit SimHash (orders LSH buckets)
  bands     - 16 LSH band hashes: murmur3 over each 8-row slice of the
              128-perm MinHash signature, which exists only to feed them
              and is not stored (verification reads kmv)
  anchors / probes - winnowed containment anchors and probes

Distribution model: this is the "update" half of the reference's
update/union split (theta/union.go design seam) — each Arrow batch is an
independent partial computation, embarrassingly parallel across executors.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.functions.minhash import minhash_signatures_segmented
from sparkdedup.functions.murmur3 import murmur3_128_bytes, murmur3_128_int64_rows
from sparkdedup.functions.simhash import simhash_segmented
from sparkdedup.functions.segments import (cells, ranges, seg_ids,
                                           smallest_k, sort_unique, within)
from sparkdedup.functions.tokenize import shingle_hashes_batch, token_hashes_batch

U64 = np.uint64

SIGNATURE_SCHEMA = (
    "file_id long, repo string, path string, commit string, lang string, "
    "sha string, n_tokens int, n_shingles int, "
    "kmv array<long>, kmv_theta long, kmv_count int, "
    "simhash long, bands array<long>, "
    "anchors array<long>, probes array<long>"
)

_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


def _window_minima_flat(h: np.ndarray, w: int) -> np.ndarray:
    """Exact min of every length-w sliding window of h, O(len(h)) via the
    two-pass block prefix/suffix-minimum decomposition (van Herk/Gil-Werman
    — the standard erosion trick): window [i, i+w) spans at most two
    w-blocks, so its min = min(suffix_min within the left block from i,
    prefix_min within the right block up to i+w-1)."""
    T = len(h)
    if T < w:
        return np.empty(0, dtype=h.dtype)
    pad = (-T) % w
    hp = np.concatenate([h, np.full(pad, _U64_MAX, h.dtype)]) if pad else h
    blocks = hp.reshape(-1, w)
    pref = np.minimum.accumulate(blocks, axis=1).ravel()
    suff = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suff[: T - w + 1], pref[w - 1 : T])


def _anchors_and_probes(
    sh: np.ndarray, sh_seg: np.ndarray, n: int, w: int, n_probes: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Winnowed containment anchors + probes per doc from the POSITIONAL
    screened shingle stream (pre-dedup/sort), as flat int64 arrays with
    per-doc counts: (anchors, anchor counts, probes, probe counts).

    anchors(d) = distinct minima of every w-window of doc d's shingle
    sequence; probes(d) = minima of d's first <=n_probes non-overlapping
    w-blocks. MOSS-style guarantee (same argument as winnowed_gram_index
    but on token shingles, so it reuses the signature stage's hash
    stream): if doc A's token stream occurs contiguously inside doc B's,
    every probe of A equals the window minimum B keeps at the occurrence
    offset — perfect candidate recall for containees with >= w shingles.
    Each value in the stream contributes to <= w windows, so the expected
    anchor density is ~2/(w+1) distinct values per position.
    """
    winmin = _window_minima_flat(sh, w)
    # contiguous per-doc runs (sh_seg is per-doc contiguous by construction
    # even though the short-doc block makes it non-monotonic globally),
    # taken in doc order so the outputs come out in the flat layout
    run_starts = np.flatnonzero(np.diff(sh_seg, prepend=-1))
    run_lens = np.diff(np.r_[run_starts, len(sh)])
    by_doc = np.argsort(sh_seg[run_starts], kind="stable")
    run_starts, run_lens = run_starts[by_doc], run_lens[by_doc]
    run_doc = sh_seg[run_starts]
    n_win = np.maximum(run_lens - w + 1, 0)
    wm = winmin[ranges(run_starts, n_win)]
    wseg = np.repeat(run_doc, n_win)
    # adjacent-dedup first (each min value spans ~w consecutive windows),
    # then sort+unique the small remainder
    fresh = np.ones(len(wm), dtype=bool)
    fresh[1:] = (wm[1:] != wm[:-1]) | (wseg[1:] != wseg[:-1])
    anchors, anchor_counts = sort_unique(wm[fresh], wseg[fresh], n)
    # probe j of a run is the window starting at its j-th w-block
    n_prb = np.minimum(n_probes, (n_win + w - 1) // w)
    probes = winmin[np.repeat(run_starts, n_prb) + within(n_prb) * w]
    probe_counts = np.zeros(n, dtype=np.int64)
    probe_counts[run_doc] = n_prb
    return (anchors.view(np.int64), anchor_counts, probes.view(np.int64),
            probe_counts)


def file_ids_batch(repos, paths, commits) -> np.ndarray:
    """Deterministic file ids: murmur3-128 h1 (seed 42) of
    repo\\0path\\0commit, reinterpreted as int64. The one definition
    of the file-id key; the fixtures' truth tables use it too."""
    keys = [f"{r}\x00{p}\x00{c}".encode("utf-8")
            for r, p, c in zip(repos, paths, commits)]
    h1, _ = murmur3_128_bytes(keys, 42)
    return h1.astype(np.int64)


def compute_signatures_pdf(pdf: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame:
    """Signature computation for one pandas batch (pure function, testable)."""
    n = len(pdf)
    repo, path, commit = pdf["repo"], pdf["path"], pdf["commit"]
    content = pdf["content"].fillna("")

    file_id = file_ids_batch(repo, path, commit)

    sha = [hashlib.sha256(t.encode("utf-8")).hexdigest() for t in content]

    tok_h, tok_seg, n_tokens = token_hashes_batch(content, cfg.seed)
    sh, sh_seg, _n_sh_raw = shingle_hashes_batch(
        tok_h, tok_seg, n_tokens, cfg.shingle_size, cfg.seed)

    # containment anchors/probes from the POSITIONAL stream (before the
    # per-doc sort below destroys position order)
    anchors, anchor_counts, probes, probe_counts = _anchors_and_probes(
        sh, sh_seg, n, cfg.containment_anchor_window,
        cfg.containment_probe_blocks)

    # distinct shingle hashes per doc (KMV is over the distinct set)
    sh_u, counts = sort_unique(sh, sh_seg, n)
    in_kmv, kmv_count, theta = smallest_k(sh_u, counts, cfg.kmv_k)
    kmv = sh_u[in_kmv]

    minh = minhash_signatures_segmented(sh_u, seg_ids(counts), n,
                                        cfg.num_perms)
    # SimHash over each doc's KMV subset (deterministic sample of the
    # shingle set — near-dups share most of it), 60x less data than the
    # full shingle stream at equal discriminative power for bucket ordering
    sim = simhash_segmented(kmv, seg_ids(kmv_count), n)

    # LSH band hashes: murmur3 over each 8-perm slice, salted by band
    # index — ONE fused call over all (doc, band) rows with per-row seeds
    # (16 tiny per-band calls were pure numpy dispatch overhead at the
    # cache-sized Arrow batches the stage actually sees)
    r = cfg.rows_per_band
    band_rows = np.ascontiguousarray(minh).reshape(n * cfg.num_bands, r)
    band_seeds = np.tile(
        np.arange(cfg.seed + 1, cfg.seed + 1 + cfg.num_bands, dtype=U64), n)
    bh1, _ = murmur3_128_int64_rows(band_rows, band_seeds)
    bands = bh1.astype(np.int64).reshape(n, cfg.num_bands)

    return pd.DataFrame({
        "file_id": file_id,
        "repo": repo.to_numpy(),
        "path": path.to_numpy(),
        "commit": commit.to_numpy(),
        "lang": pdf["lang"].to_numpy(),
        "sha": sha,
        "n_tokens": n_tokens.astype(np.int32),
        "n_shingles": counts.astype(np.int32),
        # values < 2^63: the int64 view keeps the bits
        "kmv": cells(kmv.view(np.int64), kmv_count),
        "kmv_theta": theta,
        "kmv_count": kmv_count.astype(np.int32),
        "simhash": sim.astype(np.int64),
        "bands": list(bands),
        "anchors": cells(anchors, anchor_counts),
        "probes": cells(probes, probe_counts),
    })


def signature_stage(files: DataFrame, cfg: DedupConfig,
                    num_partitions: int | None = None) -> DataFrame:
    """files(repo, path, commit, lang, content) -> signatures DataFrame.

    Repartitions by content key first so Arrow batches are uniform across
    executors (explicit partition sizing — content length skew would
    otherwise concentrate big files in few tasks).
    """
    df = files.select("repo", "path", "commit", "lang", "content")
    if num_partitions:
        df = df.repartition(num_partitions, F.xxhash64("repo", "path", "commit"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield compute_signatures_pdf(pdf, cfg)

    return df.mapInPandas(run, schema=SIGNATURE_SCHEMA)
