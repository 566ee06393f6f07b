"""Segmented arrays: the batch kernels' layout for per-document values.

A batch keeps every document's values in ONE flat array plus `counts`
(values per document, in batch order). Each per-document idiom on that
layout is written here once, none with a Python loop over documents
except `sort_unique`'s one `ndarray.sort` per segment: numpy has no
segmented sort, and on the signature kernel's batches that beats a 2-key
lexsort ~8x and an argsort-by-value + stable argsort-by-segment pass ~2x.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from sparkdedup.functions.murmur3 import murmur3_128_int64_rows
from sparkdedup.functions.theta import MAX_THETA

U64 = np.uint64

# windows hashed per murmur3 call: keeps the mix's elementwise
# temporaries at ~2 MB (cache-resident, allocator-reusable) instead of
# multi-GB streams over a whole batch
_WINDOW_CHUNK = 1 << 18


def offsets(counts: np.ndarray) -> np.ndarray:
    """Start of each segment in the flat array."""
    return np.cumsum(counts) - counts


def seg_ids(counts: np.ndarray) -> np.ndarray:
    """Each value's document id: concatenated full(counts[i], i)."""
    return np.repeat(np.arange(len(counts), dtype=np.int64), counts)


def within(counts: np.ndarray) -> np.ndarray:
    """Each value's position inside its segment: concatenated
    arange(counts[i])."""
    return (np.arange(int(counts.sum()), dtype=np.int64)
            - np.repeat(offsets(counts), counts))


def ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of arange(starts[i], starts[i] + counts[i])."""
    return np.repeat(starts, counts) + within(counts)


def encode_texts(texts, sep: bytes) -> tuple[np.ndarray, np.ndarray,
                                             np.ndarray]:
    """(flat uint8, lens, doc_starts): the UTF-8 of every text joined by
    `sep`; None and non-str values encode as b""."""
    enc = [t.encode("utf-8") if isinstance(t, str) else b"" for t in texts]
    lens = np.fromiter(map(len, enc), dtype=np.int64, count=len(enc))
    flat = np.frombuffer(sep.join(enc), dtype=np.uint8)
    return flat, lens, offsets(lens + len(sep))


def window_hashes(h: np.ndarray, counts: np.ndarray, w: int,
                  seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(murmur3 h1 of every w-window lying inside one document, the
    window's document id) over a flat uint64 stream laid out by `counts`.

    Every w-window of the flat stream is hashed through a zero-copy
    strided view (about w junk windows per document boundary), then the
    in-document ones are gathered: no (n_windows, w) matrix is built."""
    n_win = np.maximum(counts - w + 1, 0)
    wseg = seg_ids(n_win)
    if len(wseg) == 0:
        return np.empty(0, U64), wseg
    windows = np.lib.stride_tricks.sliding_window_view(h, w)
    h1 = np.empty(len(windows), dtype=U64)
    for s in range(0, len(windows), _WINDOW_CHUNK):
        h1[s:s + _WINDOW_CHUNK], _ = murmur3_128_int64_rows(
            windows[s:s + _WINDOW_CHUNK], seed)
    return h1[ranges(offsets(counts), n_win)], wseg


def sort_unique(v: np.ndarray, seg: np.ndarray,
                n: int) -> tuple[np.ndarray, np.ndarray]:
    """(each document's sorted distinct values, in document order;
    distinct values per document). `seg` (values' document ids in
    [0, n)) may be in any order."""
    order = np.argsort(seg, kind="stable")
    s, g = v[order], seg[order]
    counts = np.bincount(g, minlength=n)
    starts = offsets(counts)
    for d in np.flatnonzero(counts > 1):
        s[starts[d]: starts[d] + counts[d]].sort()
    keep = np.ones(len(s), dtype=bool)
    keep[1:] = (s[1:] != s[:-1]) | (g[1:] != g[:-1])
    return s[keep], np.bincount(g[keep], minlength=n)


def smallest_k(u: np.ndarray, counts: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """KMV per document over values sorted within each document (as
    `sort_unique` returns them): (mask of each document's k smallest
    values, their counts, theta int64). theta is a document's (k+1)-th
    smallest value, MAX_THETA when it has at most k."""
    theta = np.full(len(counts), MAX_THETA, dtype=np.int64)
    over = np.flatnonzero(counts > k)
    theta[over] = u[offsets(counts)[over] + k]
    return within(counts) < k, np.minimum(counts, k), theta


def cells(flat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Object array with one numpy array cell per document, built by
    Arrow from the flat layout (no per-document Python)."""
    offs = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=offs[1:])
    return pa.LargeListArray.from_arrays(
        pa.array(offs), pa.array(flat)).to_numpy(zero_copy_only=False)


def from_cells(col, value_type: pa.DataType | None = pa.int64()
               ) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, counts) from a column of array cells (None reads as
    empty); `value_type` is the cells' Arrow element type, None to let
    Arrow infer it."""
    arr = pa.array(col, type=None if value_type is None
                   else pa.large_list(value_type))
    if pa.types.is_null(arr.type):  # inferred from no cell or only None
        return np.empty(0, dtype=object), np.zeros(len(arr), np.int64)
    offs = arr.offsets.to_numpy()
    return (arr.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]],
            np.diff(offs).astype(np.int64))
