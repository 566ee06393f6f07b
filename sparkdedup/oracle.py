"""Brute-force single-process oracle for the dedup pipeline.

Recomputes the ENTIRE pipeline decision procedure without Spark: signatures
for every file, all-pairs LSH candidacy (any shared band hash — exactly the
set a bucket self-join produces, no caps), KMV-Jaccard verification at the
same threshold, exact-sha edges, containment candidates + exact substring
verify, and union-find clustering. Because the pipeline is deterministic at
identical shingle/signature config, the distributed output must match this
oracle EXACTLY (dup-pair recall 1.0 >= 0.99) — mirroring the reference's
"same stream -> same retained set" golden-vector methodology
(theta/sketch_serialization_test.go:35-63).

Mega-bucket caps are the one deliberate divergence (the pipeline may skip
pairs inside buckets larger than bucket_cap); the oracle reports those
separately so tests can assert no TRUE near-dup edge was lost to a cap.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from sparkdedup.config import DedupConfig
from sparkdedup.functions.minhash import minhash_signature
from sparkdedup.functions.murmur3 import murmur3_128_bytes, murmur3_128_int64_rows
from sparkdedup.functions.simhash import simhash_segmented
from sparkdedup.functions.theta import MAX_THETA, KmvSketch, jaccard
from sparkdedup.functions.tokenize import shingle_hashes_batch, token_hashes_batch

U64 = np.uint64


@dataclass
class OracleResult:
    signatures: pd.DataFrame
    lsh_edges: set[tuple[int, int]]       # verified near-dup edges (J >= tau)
    sha_edges: set[tuple[int, int]]       # exact-duplicate edges (rep -> member)
    containment_edges: set[tuple[int, int]]
    clusters: dict[int, int]              # file_id -> min-id cluster
    candidate_pairs: set[tuple[int, int]] = field(default_factory=set)


def _winnowed(sh: np.ndarray, w: int,
              n_probes: int) -> tuple[np.ndarray, np.ndarray]:
    """One document's containment (anchors, probes) from its positional
    shingle stream: anchors = distinct minima of every w-window, probes =
    minima of the first n_probes non-overlapping w-blocks."""
    if len(sh) < w:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    minima = np.lib.stride_tricks.sliding_window_view(sh, w).min(axis=1)
    probes = minima[::w][:n_probes]
    return np.unique(minima).view(np.int64), probes.view(np.int64)


def _file_signatures(files: pd.DataFrame, cfg: DedupConfig) -> pd.DataFrame:
    content = files["content"].fillna("")
    keys = [f"{r}\x00{p}\x00{c}".encode("utf-8")
            for r, p, c in zip(files["repo"], files["path"], files["commit"])]
    fid_h1, _ = murmur3_128_bytes(keys, 42)
    file_id = fid_h1.astype(np.int64)

    rows = []
    for i, text in enumerate(content):
        th, seg, ntok = token_hashes_batch(pd.Series([text]), cfg.seed)
        sh, _, _ = shingle_hashes_batch(th, seg, ntok, cfg.shingle_size, cfg.seed)
        anchors, probes = _winnowed(sh, cfg.containment_anchor_window,
                                    cfg.containment_probe_blocks)
        shu = np.unique(sh)
        k = cfg.kmv_k
        if len(shu) > k:
            theta, kmv = int(shu[k]), shu[:k]
        else:
            theta, kmv = MAX_THETA, shu
        minh = minhash_signature(shu, cfg.num_perms)
        sub = shu[: min(len(shu), k)]  # simhash over the KMV subset
        sim = int(simhash_segmented(sub, np.zeros(len(sub), np.int64), 1)[0])
        bands = []
        r = cfg.rows_per_band
        for b in range(cfg.num_bands):
            bh1, _ = murmur3_128_int64_rows(minh[None, b * r:(b + 1) * r],
                                            cfg.seed + b + 1)
            bands.append(int(bh1.astype(np.int64)[0]))
        rows.append({
            "file_id": int(file_id[i]),
            "sha": hashlib.sha256(text.encode()).hexdigest(),
            "n_tokens": int(ntok[0]),
            "n_shingles": len(shu),
            "kmv": kmv, "kmv_theta": theta,
            "minh": minh, "simhash": sim, "bands": bands,
            "shingles": shu,
            "anchors": anchors, "probes": probes,
        })
    return pd.DataFrame(rows)


class _UnionFind(dict):
    def find(self, x):
        while self.get(x, x) != x:
            self[x] = self.get(self[x], self[x])
            x = self[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self[max(ra, rb)] = min(ra, rb)


def run_oracle(files: pd.DataFrame, cfg: DedupConfig,
               containment: bool = True) -> OracleResult:
    sigs = _file_signatures(files, cfg)
    n = len(sigs)
    fid = sigs["file_id"].to_numpy()

    # exact-sha edges (rep = min file_id per sha)
    sha_edges: set[tuple[int, int]] = set()
    rep_of: dict[str, int] = {}
    by_sha = sigs.groupby("sha")["file_id"].apply(list)
    for sha, ids in by_sha.items():
        rep = min(ids)
        rep_of[sha] = rep
        for m in ids:
            if m != rep:
                sha_edges.add((rep, m))
    reps_mask = sigs["file_id"] == sigs["sha"].map(rep_of)
    rep_sigs = sigs[reps_mask].reset_index(drop=True)

    # all-pairs LSH candidacy among representatives (any shared band)
    band_arr = np.array(rep_sigs["bands"].tolist())       # (m, 16)
    rfid = rep_sigs["file_id"].to_numpy()
    m = len(rep_sigs)
    cand: set[tuple[int, int]] = set()
    for b in range(cfg.num_bands):
        col = band_arr[:, b]
        order = np.argsort(col, kind="stable")
        sc = col[order]
        starts = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
        ends = np.r_[starts[1:], len(sc)]
        for s, e in zip(starts, ends):
            if e - s > 1:
                members = sorted(int(rfid[i]) for i in order[s:e])
                for i in range(len(members)):
                    for j in range(i + 1, len(members)):
                        cand.add((members[i], members[j]))

    # verification at tau with reference jaccard semantics
    by_id = {int(r.file_id): r for r in rep_sigs.itertuples()}
    lsh_edges: set[tuple[int, int]] = set()
    for (a, b) in cand:
        ra, rb = by_id[a], by_id[b]
        A = KmvSketch(np.asarray(ra.kmv, dtype=U64), int(ra.kmv_theta))
        B = KmvSketch(np.asarray(rb.kmv, dtype=U64), int(rb.kmv_theta))
        _, est, _ = jaccard(A, B)
        if est >= cfg.jaccard_threshold:
            lsh_edges.add((a, b))

    # containment: winnowed-anchor candidates (probe value of A present in
    # B's anchor set, hot anchors capped), then exact substring — mirrors
    # operators/containment.anchor_containment_candidates exactly
    containment_edges: set[tuple[int, int]] = set()
    if containment:
        content_by_id = dict(zip(
            (int(x) for x in fid), files["content"].fillna("")))
        anchor_sets = {int(r.file_id):
                       set(np.asarray(r.anchors, dtype=np.int64).tolist())
                       for r in rep_sigs.itertuples()}
        probe_map = {int(r.file_id):
                     np.asarray(r.probes, dtype=np.int64).tolist()
                     for r in rep_sigs.itertuples()}
        nsh = {int(r.file_id): int(r.n_shingles) for r in rep_sigs.itertuples()}
        # posting-cap emulation: anchors shared by too many files (shared
        # boilerplate headers) are dropped from the index side
        posting: dict[int, int] = {}
        for s in anchor_sets.values():
            for h in s:
                posting[h] = posting.get(h, 0) + 1
        hot = {h for h, c in posting.items() if c > cfg.containment_posting_cap}
        ids = sorted(anchor_sets)
        for a in ids:
            pa = [p for p in probe_map[a] if p not in hot]
            if not pa:
                continue
            for b in ids:
                if b == a or nsh[a] > nsh[b]:
                    continue
                if any(p in anchor_sets[b] for p in pa):
                    ca, cb = content_by_id[a], content_by_id[b]
                    if ca and ca in cb:
                        containment_edges.add((a, b))

    uf = _UnionFind()
    for a, b in sha_edges | lsh_edges | containment_edges:
        uf.union(a, b)
    clusters = {int(f): uf.find(int(f)) for f in fid}
    return OracleResult(sigs, lsh_edges, sha_edges, containment_edges,
                        clusters, cand)
