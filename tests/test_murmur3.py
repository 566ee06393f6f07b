"""Hash-kernel parity tests.

Mirrors the reference's test strategy (internal/murmur3_test.go golden
vector; theta/sketch_serialization_test.go cross-language vectors).
"""

import numpy as np
import pytest

from sparkdedup.functions import murmur3 as m3
from sparkdedup.functions.murmur3 import (
    compute_seed_hash,
    fmix64,
    murmur3_128_bytes,
    murmur3_128_bytes_segmented,
    murmur3_128_int64_rows,
    murmur3_128_int64_scalar,
    murmur3_128_int64_single,
    murmur3_128_scalar,
)

GOLDEN_KEY = b"The quick brown fox jumps over the lazy dog"
GOLDEN_H1 = 0xE34BBC7BBC071B6C  # reference internal/murmur3_test.go:29
GOLDEN_H2 = 0x7A433CA9C49A9347  # reference internal/murmur3_test.go:30


def test_scalar_golden_vector():
    assert murmur3_128_scalar(GOLDEN_KEY, 0) == (GOLDEN_H1, GOLDEN_H2)


def test_vectorized_golden_vector():
    h1, h2 = murmur3_128_bytes([GOLDEN_KEY], 0)
    assert int(h1[0]) == GOLDEN_H1
    assert int(h2[0]) == GOLDEN_H2


@pytest.mark.parametrize("seed", [0, 9001, 12345])
def test_bytes_batch_matches_scalar(seed):
    rng = np.random.default_rng(7)
    data = [bytes(rng.integers(0, 256, size=int(n), dtype=np.uint8))
            for n in list(rng.integers(0, 100, 300)) + [0, 1, 8, 15, 16, 17, 31, 32, 33]]
    h1, h2 = murmur3_128_bytes(data, seed)
    for i, b in enumerate(data):
        s1, s2 = murmur3_128_scalar(b, seed)
        assert (int(h1[i]), int(h2[i])) == (s1, s2), f"len={len(b)}"


def test_int64_single_matches_scalar():
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 2**63, 500).astype(np.uint64)
    h1, h2 = murmur3_128_int64_single(vals, 9001)
    for j in (0, 1, 17, 499):
        s1, s2 = murmur3_128_int64_scalar([int(vals[j])], 9001)
        assert (int(h1[j]), int(h2[j])) == (s1, s2)


@pytest.mark.parametrize("width", [1, 2, 3, 5, 8])
def test_int64_rows_matches_scalar(width):
    rng = np.random.default_rng(width)
    rows = rng.integers(0, 2**63, (20, width)).astype(np.uint64)
    h1, h2 = murmur3_128_int64_rows(rows, 9001)
    for j in range(20):
        s1, s2 = murmur3_128_int64_scalar([int(x) for x in rows[j]], 9001)
        assert (int(h1[j]), int(h2[j])) == (s1, s2)


def test_seed_hash():
    # must match the uint16 seed-hash stored in every golden .sk built with
    # the default seed (validated transitively by test_theta_golden_vectors)
    assert compute_seed_hash(9001) == 37836


def test_fmix64_bijective_sample():
    rng = np.random.default_rng(3)
    x = rng.integers(0, 2**64, 10_000, dtype=np.uint64)
    assert len(np.unique(fmix64(x))) == len(np.unique(x))


@pytest.mark.parametrize("gather_bytes", [None, 64])
@pytest.mark.parametrize("seed", [0, 9001])
def test_bytes_segmented_matches_scalar(seed, gather_bytes, monkeypatch):
    """Non-contiguous and overlapping slices of one buffer, lengths 0-48;
    a 64-byte gather step also splits every block-count bucket."""
    if gather_bytes is not None:
        monkeypatch.setattr(m3, "_GATHER_BYTES", gather_bytes)
    rng = np.random.default_rng(seed + 5)
    flat = rng.integers(0, 256, 400, dtype=np.uint8)
    lengths = np.tile(np.arange(49, dtype=np.int64), 3)
    starts = rng.integers(0, len(flat) - 48, len(lengths))
    h1, h2 = murmur3_128_bytes_segmented(flat, starts, lengths, seed)
    for s, n, a, b in zip(starts, lengths, h1, h2):
        assert (int(a), int(b)) == murmur3_128_scalar(
            flat[s:s + n].tobytes(), seed), f"start={s} len={n}"
