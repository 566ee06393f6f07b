"""Byte-identity and speed check for the signature kernels, without Spark.

For each perfbench pipeline workload at a seed, splits the files table
into Arrow-sized batches (perfbench/replay.py::arrow_sized_batches) and
prints:

  sig    digest of compute_signatures_pdf over all batches, rows sorted
         by file_id, all 15 columns
  <col>  the same digest over each signature column alone, one line per
         column, so two trees whose column sets differ can still show
         that every shared column hashes the same
  gram   digest of word_gram_hashes_batch (n=3) over the same batches
  best   best-of-5 seconds of compute_signatures_pdf over all batches

Two trees produce the same digests exactly when the kernels agree byte
for byte. Usage:

    python tools/kernel_digest.py [--seed 1]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "perfbench"))

from replay import arrow_sized_batches  # noqa: E402
import workloads  # noqa: E402

from sparkdedup.config import DedupConfig  # noqa: E402
from sparkdedup.functions.tokenize import word_gram_hashes_batch  # noqa: E402
from sparkdedup.operators.signatures import compute_signatures_pdf  # noqa: E402

REPS = 5


def frame_digest(df: pd.DataFrame) -> str:
    """sha256 over every column in order: strings NUL-joined, arrays as
    per-cell lengths plus their int64 values, scalars as int64."""
    d = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        d.update(col.encode())
        first = s.iloc[0] if len(s) else None
        if isinstance(first, str):
            d.update("\x00".join(s).encode("utf-8"))
        elif isinstance(first, (np.ndarray, list)):
            cells = [np.asarray(x, dtype=np.int64) for x in s]
            d.update(np.array([len(x) for x in cells], np.int64).tobytes())
            d.update(np.concatenate(cells).tobytes() if cells else b"")
        else:
            d.update(s.to_numpy(np.int64).tobytes())
    return d.hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    cfg = DedupConfig()
    for name in workloads.PIPELINE_WORKLOADS:
        table = getattr(workloads, name)(args.seed).table
        batches = list(arrow_sized_batches(table))
        sigs = pd.concat([compute_signatures_pdf(b, cfg) for b in batches])
        sigs = sigs.sort_values("file_id", kind="stable").reset_index(drop=True)
        sig = frame_digest(sigs)
        g = hashlib.sha256()
        row0 = 0
        for b in batches:
            gh, seg = word_gram_hashes_batch(b["content"], 3)
            g.update(gh.tobytes())
            g.update((seg + row0).astype(np.int64).tobytes())
            row0 += len(b)
        best = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            for b in batches:
                compute_signatures_pdf(b, cfg)
            best = min(best, time.perf_counter() - t0)
        print(f"{name:<17} rows={len(table):<5} batches={len(batches):<3} "
              f"sig={sig} gram={g.hexdigest()[:16]} best={best:.3f}s",
              flush=True)
        for col in sigs.columns:
            print(f"  {col:<15} {frame_digest(sigs[[col]])}", flush=True)


if __name__ == "__main__":
    main()
