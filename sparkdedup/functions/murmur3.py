"""Vectorized MurmurHash3 x64 128-bit in numpy, with datasketches semantics.

Behavioral parity target: the reference implementation's
internal/murmur3.go (blockMix128 at :194-204, finalMix128 at :206-218,
byte-array layout HashByteArrMurmur3 at :126-158, int64-slice layout
HashInt64SliceMurmur3 at :99-124, char-slice layout HashCharSliceMurmur3
at :30-63). All functions here operate on whole numpy batches (one
python-level loop only over 16-byte *blocks*, never over items), which is
what makes them usable inside Arrow-batched pandas UDFs.

One mix, one byte path: every batch hash runs the in-place block mix
(`_block_mix_ip`) and the in-place finalizer (`_final_mix`, which ends in
`_fmix_ip`), each writing into preallocated scratch so no mix step
allocates. Byte strings hash through `murmur3_128_bytes_segmented`;
`murmur3_128_bytes` only joins its inputs into one buffer first, and
`murmur3_128_strings` hashes the UTF-8 of each distinct string once. The
pure-python scalar functions at the end are independent references for
the tests.

Golden vector (reference internal/murmur3_test.go:26-37):
    murmur3_128_bytes(b"The quick brown fox jumps over the lazy dog", seed=0)
      == (0xe34bbc7bbc071b6c, 0x7a433ca9c49a9347)
"""

from __future__ import annotations

import numpy as np
import pandas as pd

U64 = np.uint64
_C1 = U64(0x87C37B91114253D5)  # reference internal/murmur3.go:21
_C2 = U64(0x4CF5AD432745937F)  # reference internal/murmur3.go:22
_F1 = U64(0xFF51AFD7ED558CCD)
_F2 = U64(0xC4CEB9FE1A85EC53)
_M5 = U64(5)
_A1 = U64(0x52DCE729)
_A2 = U64(0x38495AB5)


def _mix_k_ip(k: np.ndarray, c_in: np.uint64, rot: int, c_out: np.uint64,
              t: np.ndarray, u: np.ndarray) -> np.ndarray:
    """t = rotl(k * c_in, rot) * c_out; k untouched."""
    np.multiply(k, c_in, out=t)
    np.left_shift(t, U64(rot), out=u)
    np.right_shift(t, U64(64 - rot), out=t)
    np.bitwise_or(t, u, out=t)
    np.multiply(t, c_out, out=t)
    return t


def _rotl_ip(h: np.ndarray, rot: int, t: np.ndarray) -> None:
    np.left_shift(h, U64(rot), out=t)
    np.right_shift(h, U64(64 - rot), out=h)
    np.bitwise_or(h, t, out=h)


def _fmix_ip(h: np.ndarray, t: np.ndarray) -> None:
    """The 64-bit finalizer fmix64 (reference internal/murmur3.go:184-192)."""
    np.right_shift(h, U64(33), out=t)
    np.bitwise_xor(h, t, out=h)
    np.multiply(h, _F1, out=h)
    np.right_shift(h, U64(33), out=t)
    np.bitwise_xor(h, t, out=h)
    np.multiply(h, _F2, out=h)
    np.right_shift(h, U64(33), out=t)
    np.bitwise_xor(h, t, out=h)


def _block_mix_ip(h1, h2, k1, k2, t, u) -> None:
    # reference internal/murmur3.go:194-204
    np.bitwise_xor(h1, _mix_k_ip(k1, _C1, 31, _C2, t, u), out=h1)
    _rotl_ip(h1, 27, t)
    np.add(h1, h2, out=h1)
    np.multiply(h1, _M5, out=h1)
    np.add(h1, _A1, out=h1)
    np.bitwise_xor(h2, _mix_k_ip(k2, _C2, 33, _C1, t, u), out=h2)
    _rotl_ip(h2, 31, t)
    np.add(h2, h1, out=h2)
    np.multiply(h2, _M5, out=h2)
    np.add(h2, _A2, out=h2)


def _final_mix(h1: np.ndarray, h2: np.ndarray, k1: np.ndarray | None,
               k2: np.ndarray | None, length, t: np.ndarray | None = None,
               u: np.ndarray | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Tail words plus finalization (reference internal/murmur3.go:206-218),
    in place on h1/h2, which are also returned. A tail word of None is all
    zero: its mix is zero, so it is skipped. `length` is the stream length
    in bytes (a scalar or one per row); t/u are optional scratch arrays
    shaped like h1, so a caller that already has them allocates nothing."""
    if t is None:
        t, u = np.empty_like(h1), np.empty_like(h1)
    if k1 is not None:
        np.bitwise_xor(h1, _mix_k_ip(k1, _C1, 31, _C2, t, u), out=h1)
    if k2 is not None:
        np.bitwise_xor(h2, _mix_k_ip(k2, _C2, 33, _C1, t, u), out=h2)
    np.bitwise_xor(h1, length, out=h1)
    np.bitwise_xor(h2, length, out=h2)
    np.add(h1, h2, out=h1)
    np.add(h2, h1, out=h2)
    _fmix_ip(h1, t)
    _fmix_ip(h2, t)
    np.add(h1, h2, out=h1)
    np.add(h2, h1, out=h2)
    return h1, h2


def _seeded(seed: int | np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Fresh (h1, h2) state: both words start at the seed."""
    if isinstance(seed, np.ndarray):
        h1 = seed.astype(U64)
    else:
        h1 = np.full(n, U64(seed), dtype=U64)
    return h1, h1.copy()


def fmix64(h: np.ndarray) -> np.ndarray:
    """The murmur3 64-bit finalizer on a copy of h (reference
    internal/murmur3.go:184-192).

    A bijection on uint64; also used standalone as our per-permutation
    MinHash re-hash.
    """
    out = np.array(h, dtype=U64)
    _fmix_ip(out, np.empty_like(out))
    return out


def murmur3_128_int64_single(values: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Hash each element as a one-long stream (HashInt64SliceMurmur3 with
    lengthLongs=1 — reference internal/murmur3.go:99-124). This is exactly
    what theta UpdateInt64 feeds (reference theta/hashtable.go:132-144).

    values: uint64 array (int64 values reinterpreted); returns (h1, h2).
    """
    v = values.astype(U64, copy=False)
    h1, h2 = _seeded(seed, len(v))
    return _final_mix(h1, h2, v, None, U64(8))


def murmur3_128_int64_rows(rows: np.ndarray,
                           seed: int | np.ndarray
                           ) -> tuple[np.ndarray, np.ndarray]:
    """Hash each ROW of a (n, m) uint64 matrix as an m-long stream
    (HashInt64SliceMurmur3 — reference internal/murmur3.go:99-124).
    Used for fixed-width shingles (m=5 token hashes) and LSH band rows (m=8).

    seed may be an (n,) array for per-row seeds (the fused band-hash path:
    all 16 bands in one call, each band row salted by its own seed).
    """
    rows = rows.astype(U64, copy=False)
    n, m = rows.shape
    h1, h2 = _seeded(seed, n)
    t = np.empty(n, dtype=U64)
    u = np.empty(n, dtype=U64)
    for i in range(m >> 1):
        _block_mix_ip(h1, h2, rows[:, 2 * i], rows[:, 2 * i + 1], t, u)
    # an odd trailing long goes entirely into k1, k2 stays zero
    tail = rows[:, m - 1] if m & 1 else None
    return _final_mix(h1, h2, tail, None, U64(m << 3), t, u)


def murmur3_128_bytes(data: list[bytes], seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Batch murmur3-128 over variable-length byte strings
    (HashByteArrMurmur3 layout — reference internal/murmur3.go:126-158):
    the strings are joined into one buffer and hashed as its slices.
    Returns (h1, h2) uint64 arrays aligned with the input order.
    """
    lengths = np.fromiter((len(b) for b in data), dtype=np.int64,
                          count=len(data))
    flat = np.frombuffer(b"".join(data), dtype=np.uint8)
    return murmur3_128_bytes_segmented(flat, np.cumsum(lengths) - lengths,
                                       lengths, seed)


def murmur3_128_strings(values, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """murmur3-128 (h1, h2) of the UTF-8 of each string in `values`,
    aligned with it: one factorize, then each DISTINCT string is encoded
    and hashed once."""
    codes, uniques = pd.factorize(np.asarray(values, dtype=object))
    h1, h2 = murmur3_128_bytes([u.encode("utf-8") for u in uniques], seed)
    return h1[codes], h2[codes]


# padded bytes gathered per step of the byte path: the gather's int64
# index arrays cost ~32 bytes per gathered byte, so a step's scratch stays
# under 10 MB whatever the batch size
_GATHER_BYTES = 1 << 18


def murmur3_128_bytes_segmented(flat: np.ndarray, starts: np.ndarray,
                                lengths: np.ndarray,
                                seed: int) -> tuple[np.ndarray, np.ndarray]:
    """murmur3-128 of `len(starts)` byte slices of a flat uint8 buffer
    (HashByteArrMurmur3 layout), with zero Python string/bytes objects.
    Slices may overlap and need not be contiguous.

    Slices are bucketed by 16-byte block count so each bucket vectorizes
    fully; a bucket's zero-padded word matrix is built by one fancy-index
    gather from `flat` per `_GATHER_BYTES` step. Zero padding reproduces
    getUint64's partial-read semantics (reference internal/murmur3.go:
    160-167): reading 8 bytes from the padded row equals assembling `rem`
    little-endian bytes.
    """
    n = len(starts)
    h1_out = np.empty(n, dtype=U64)
    h2_out = np.empty(n, dtype=U64)
    if n == 0:
        return h1_out, h2_out
    starts = starts.astype(np.int64, copy=False)
    lengths = lengths.astype(np.int64, copy=False)
    nblocks = lengths >> 4
    order = np.argsort(nblocks, kind="stable")
    boundaries = np.flatnonzero(np.diff(nblocks[order])) + 1
    for group in np.split(order, boundaries):
        nb = int(nblocks[group[0]])
        step = max(1, _GATHER_BYTES // ((nb + 1) * 16))
        for sub in np.split(group, range(step, len(group), step)):
            h1_out[sub], h2_out[sub] = _hash_slices(
                flat, starts[sub], lengths[sub], nb, seed)
    return h1_out, h2_out


def _hash_slices(flat: np.ndarray, starts: np.ndarray, lengths: np.ndarray,
                 nb: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """murmur3-128 of byte slices that all have `nb` full 16-byte blocks."""
    m = len(starts)
    buf = np.zeros((m, (nb + 1) * 16), dtype=np.uint8)
    total = int(lengths.sum())
    if total:
        rows = np.repeat(np.arange(m, dtype=np.int64), lengths)
        within = (np.arange(total, dtype=np.int64)
                  - np.repeat(np.cumsum(lengths) - lengths, lengths))
        buf[rows, within] = flat[starts[rows] + within]
    words = buf.view("<u8")  # (m, 2 * (nb + 1)) little-endian words
    h1, h2 = _seeded(seed, m)
    t = np.empty(m, dtype=U64)
    u = np.empty(m, dtype=U64)
    for i in range(nb):
        _block_mix_ip(h1, h2, words[:, 2 * i], words[:, 2 * i + 1], t, u)
    return _final_mix(h1, h2, words[:, 2 * nb], words[:, 2 * nb + 1],
                      lengths.astype(U64), t, u)


def murmur3_128_scalar(data: bytes, seed: int) -> tuple[int, int]:
    """Pure-python scalar reference (independent of the numpy path) used by
    tests to cross-check the vectorized kernel. Same byte-array layout as
    reference internal/murmur3.go:126-158.
    """
    mask = (1 << 64) - 1

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & mask

    def mixk1(k1):
        k1 = (k1 * 0x87C37B91114253D5) & mask
        k1 = rotl(k1, 31)
        return (k1 * 0x4CF5AD432745937F) & mask

    def mixk2(k2):
        k2 = (k2 * 0x4CF5AD432745937F) & mask
        k2 = rotl(k2, 33)
        return (k2 * 0x87C37B91114253D5) & mask

    def fmix(h):
        h ^= h >> 33
        h = (h * 0xFF51AFD7ED558CCD) & mask
        h ^= h >> 33
        h = (h * 0xC4CEB9FE1A85EC53) & mask
        h ^= h >> 33
        return h

    h1 = h2 = seed & mask
    nblocks = len(data) >> 4
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        h1 = (h1 ^ mixk1(k1)) & mask
        h1 = rotl(h1, 27)
        h1 = (h1 + h2) & mask
        h1 = (h1 * 5 + 0x52DCE729) & mask
        h2 = (h2 ^ mixk2(k2)) & mask
        h2 = rotl(h2, 31)
        h2 = (h2 + h1) & mask
        h2 = (h2 * 5 + 0x38495AB5) & mask
    tail = data[nblocks * 16 :]
    k1 = int.from_bytes(tail[:8], "little")
    k2 = int.from_bytes(tail[8:16], "little")
    h1 ^= mixk1(k1)
    h2 ^= mixk2(k2)
    h1 = (h1 ^ len(data)) & mask
    h2 = (h2 ^ len(data)) & mask
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = (h1 + h2) & mask
    h2 = (h2 + h1) & mask
    return h1, h2


def murmur3_128_int64_scalar(values: list[int], seed: int) -> tuple[int, int]:
    """Pure-python HashInt64SliceMurmur3 (reference internal/murmur3.go:99-124)."""
    mask = (1 << 64) - 1
    data = b"".join((v & mask).to_bytes(8, "little") for v in values)
    # the int64-slice layout equals the byte layout when all longs are whole,
    # except the tail: a single trailing long goes entirely into k1 — which
    # matches the byte layout too (8 whole bytes -> k1, k2 = 0). Length is
    # bytes in both. So delegate:
    return murmur3_128_scalar(data, seed)


def compute_seed_hash(seed: int) -> int:
    """Reference internal/utils.go:116-126: murmur3 of [seed] with seed 0,
    low 16 bits; used as the cross-sketch compatibility stamp.
    """
    h1, _ = murmur3_128_int64_scalar([seed], 0)
    sh = h1 & 0xFFFF
    if sh == 0:
        raise ValueError(f"seed {seed} produces zero seed hash")
    return sh
