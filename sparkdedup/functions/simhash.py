"""64-bit SimHash over shingle hashes, vectorized via bit unpacking.

SimHash(doc) bit j = sign of sum over shingles of (+1 if bit j of
fmix64(shingle_hash) else -1). Ties (sum == 0) resolve to bit 0 for
determinism.
"""

from __future__ import annotations

import numpy as np

from sparkdedup.functions.murmur3 import fmix64

U64 = np.uint64


def _bit_matrix(h: np.ndarray) -> np.ndarray:
    """(n, 64) uint8 bit matrix (MSB-first per uint64)."""
    return np.unpackbits(h.astype(">u8", copy=False).view(np.uint8)).reshape(-1, 64)


def simhash_segmented(
    shingle_hashes: np.ndarray, seg_ids: np.ndarray, n_docs: int
) -> np.ndarray:
    """SimHash-64 for a batch of documents over a flat hash array.

    Returns (n_docs,) uint64; empty documents hash to 0.
    """
    out = np.zeros(n_docs, dtype=U64)
    if len(shingle_hashes) == 0:
        return out
    mixed = fmix64(shingle_hashes.astype(U64, copy=False))
    bits = _bit_matrix(mixed).astype(np.int32)  # (total, 64) in {0,1}
    votes = 2 * bits - 1                        # {-1, +1}
    uniq, starts = np.unique(seg_ids, return_index=True)
    sums = np.add.reduceat(votes, starts, axis=0)  # (n_present, 64)
    result_bits = (sums > 0).astype(np.uint8)      # MSB-first
    packed = np.packbits(result_bits, axis=1).view(">u8").ravel().astype(U64)
    out[uniq] = packed
    return out
