"""Tokenization + n-gram shingling for source code, batch-oriented.

Tokens: identifiers / numbers / operator runs, via one compiled regex over
the whole document. Shingles: w consecutive token hashes hashed together as
an int64[w] murmur3 stream (reference layout internal/murmur3.go:99-124),
then screened like theta updates (h1 >> 1, drop zero —
reference theta/hashtable.go:104-116). Token -> uint64 via murmur3-128 of
its UTF-8 bytes (UpdateBytes semantics, theta/update_sketch.go:377-393);
empty strings are rejected exactly like the reference's UpdateString
(theta/update_sketch.go:353-356).

The whole path is batch-first on the flat layout of functions/segments.py
(each distinct token murmur3'd once per batch; shingles and word grams are
`window_hashes`); only the non-ASCII regex fallback works per document.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from sparkdedup.functions.murmur3 import (_final_mix, _seeded,
                                          murmur3_128_bytes_segmented,
                                          murmur3_128_int64_rows,
                                          murmur3_128_strings)
from sparkdedup.functions.segments import (encode_texts, offsets, ranges,
                                           seg_ids, sort_unique,
                                           window_hashes)

U64 = np.uint64

# identifiers, numbers, or single punctuation/operator chars
_TOKEN_RE = re.compile(r"[A-Za-z_][A-Za-z_0-9]*|\d+|[^\sA-Za-z_0-9]")


def tokenize(text: str) -> list[str]:
    """Regex token stream for one document (no empty tokens by construction)."""
    return _TOKEN_RE.findall(text)


# --------------------------------------------------------------------------
# ASCII fast path: byte-level char-class tokenizer, no Python string objects
# --------------------------------------------------------------------------
# Classes derived FROM the regex so the fast path can't drift from it:
#   A = identifier start/cont [A-Za-z_], D = digit, W = whitespace (as the
#   re module defines \s for ASCII), P = single-char punct token.
# Token rules implied by `[A-Za-z_][A-Za-z_0-9]*|\d+|[^\sA-Za-z_0-9]`
# within a maximal [A|D] run: if it starts with A the whole run is ONE
# identifier; if it starts with D the leading digit prefix is one number
# token and the rest (from the first A) is one identifier. P chars are
# single tokens. Docs containing any byte >= 0x80 fall back to the regex
# (utf-8 continuation bytes don't map to code-point classes).
_CLS_A, _CLS_D, _CLS_W, _CLS_P = 0, 1, 2, 3
_CLS_TABLE = np.empty(256, dtype=np.uint8)
for _c in range(128):
    _ch = chr(_c)
    if re.fullmatch(r"[A-Za-z_]", _ch):
        _CLS_TABLE[_c] = _CLS_A
    elif re.fullmatch(r"\d", _ch):
        _CLS_TABLE[_c] = _CLS_D
    elif re.fullmatch(r"\s", _ch):
        _CLS_TABLE[_c] = _CLS_W
    else:
        _CLS_TABLE[_c] = _CLS_P
_CLS_TABLE[128:] = _CLS_P  # never reached: non-ascii docs take the fallback


def _token_spans_ascii(buf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lengths) of tokens in an ASCII uint8 buffer (positions with
    newline separators between docs are plain whitespace)."""
    n = len(buf)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    # class masks via uint8 range arithmetic, not a LUT gather (a 256-entry
    # byte gather runs at ~0.4 GB/s in numpy; these comparisons stream at
    # memory bandwidth). Wraparound does the range test: (x - lo) < span.
    # Identity with _CLS_TABLE is pytest-pinned (test_property.py).
    # Masks are combined with out= into existing buffers — at 10^8-byte
    # batches every avoided 1-bool-per-byte temporary is a measurable
    # fraction of the stage (this scan is the top term of the whole
    # signature kernel).
    low = buf | np.uint8(0x20)
    is_digit = (buf - np.uint8(48)) < np.uint8(10)
    is_ad = (low - np.uint8(97)) < np.uint8(26)
    np.logical_or(is_ad, buf == np.uint8(95), out=is_ad)
    np.logical_or(is_ad, is_digit, out=is_ad)
    # maximal [A|D] runs via ONE transition scan: every flip of is_ad is
    # either a run start (now inside) or an exclusive run end (now outside)
    flips = np.flatnonzero(is_ad[1:] != is_ad[:-1]) + 1
    inside = is_ad[flips] if len(flips) else np.empty(0, bool)
    rs = flips[inside]
    re_ = flips[~inside]
    if is_ad[0]:
        rs = np.r_[0, rs]
    if is_ad[-1]:
        re_ = np.r_[re_, n]
    # P = not [A|D] and not whitespace. Unicode \s over ASCII is
    # {9..13, 28..31, 32} — \x1c-\x1f (FS/GS/RS/US) count as whitespace
    # in python's re, unlike POSIX isspace. Built in the ws buffer then
    # inverted in place (p = ~(ws | ad)).
    ws = (buf - np.uint8(9)) < np.uint8(5)
    np.logical_or(ws, (buf - np.uint8(28)) < np.uint8(5), out=ws)
    np.logical_or(ws, is_ad, out=ws)
    np.logical_not(ws, out=ws)
    p_pos = np.flatnonzero(ws)
    # digit-led runs containing an A split in two ("99a9b" -> "99", "a9b"):
    # the second token starts at the run's FIRST A. Letter positions are
    # only materialized when a digit-led run exists at all (identifiers
    # can't start with a digit, so most buffers skip this entirely).
    has_a = np.zeros(len(rs), dtype=bool)
    split_at = np.empty(0, np.int64)
    digit_led = np.flatnonzero(is_digit[rs]) if len(rs) else \
        np.empty(0, np.int64)
    if len(digit_led):
        # is_digit/is_ad are dead after this point — reuse both in place
        np.logical_not(is_digit, out=is_digit)
        np.logical_and(is_ad, is_digit, out=is_ad)
        a_positions = np.flatnonzero(is_ad)
        if len(a_positions):
            dl_rs, dl_re = rs[digit_led], re_[digit_led]
            cand = np.minimum(np.searchsorted(a_positions, dl_rs),
                              len(a_positions) - 1)
            first_a = a_positions[cand]
            hit = (first_a >= dl_rs) & (first_a < dl_re)
            has_a[digit_led[hit]] = True
            split_at = first_a[hit]
    run1_ends = re_.copy()
    run1_ends[has_a] = split_at
    run2_starts, run2_ends = split_at, re_[has_a]
    # Merge the THREE already-sorted, disjoint start streams (run starts,
    # run second-token starts, punct positions) by rank scatter instead of
    # argsort+gather over the concatenation: rank(x in A) = index within A
    # + |B < x| + |C < x|, three vectorized searchsorteds per stream —
    # O(n log n) with a C constant ~4x smaller than the stable mergesort
    # this replaces (split_at is sorted: one split per disjoint ascending
    # run; p_pos never falls inside a run, so the streams are disjoint).
    nA, nB, nC = len(rs), len(run2_starts), len(p_pos)
    starts = np.empty(nA + nB + nC, dtype=np.int64)
    ends = np.empty(nA + nB + nC, dtype=np.int64)
    rank_a = (np.arange(nA, dtype=np.int64)
              + np.searchsorted(run2_starts, rs)
              + np.searchsorted(p_pos, rs))
    rank_b = (np.arange(nB, dtype=np.int64)
              + np.searchsorted(rs, run2_starts)
              + np.searchsorted(p_pos, run2_starts))
    rank_c = (np.arange(nC, dtype=np.int64)
              + np.searchsorted(rs, p_pos)
              + np.searchsorted(run2_starts, p_pos))
    starts[rank_a] = rs
    ends[rank_a] = run1_ends
    starts[rank_b] = run2_starts
    ends[rank_b] = run2_ends
    starts[rank_c] = p_pos
    ends[rank_c] = p_pos + 1
    return starts, ends - starts


def _hash_tokens_dedup(flat: np.ndarray, starts: np.ndarray,
                       lengths: np.ndarray, seed: int) -> np.ndarray:
    """murmur3 h1 for every token slice, hashing each DISTINCT token once.

    Token streams repeat heavily (identifiers, keywords), so the murmur
    mixes run only on the vocabulary: short tokens dedup by their
    zero-padded little-endian words (collision-free identity keys because
    multi-char tokens are NUL-free — see inline proofs), via one O(n)
    hash-table factorize (<=8B) or a 2-key lexsort (9-15B); unique rows
    feed _final_mix directly (single-block layout). Tokens >= 16 bytes are
    rare and hash straight through the segmented kernel."""
    n = len(starts)
    out = np.empty(n, dtype=U64)
    if n == 0:
        return out

    # The packed-word identity keys below are collision-free ONLY when no
    # token contains a NUL byte (zero-padding would alias "a" and "a\x00").
    # Regex tokens are NUL-free by construction except the 1-byte "\x00"
    # token (unique at w0=0), but whitespace-split WORDS may contain NULs
    # — if the buffer has any, hash everything through the exact segmented
    # kernel instead (rare; costs the dedup win, never correctness).
    if np.any(flat == 0):
        h_all, _ = murmur3_128_bytes_segmented(flat, starts, lengths, seed)
        return h_all

    # tokens <= 8 bytes (vast majority): multi-char tokens are pure
    # [A-Za-z0-9_] (never a NUL byte) and 1-byte tokens are < 256 while
    # multi-byte ones have a nonzero 2nd byte, so the zero-padded
    # little-endian word w0 alone is a COLLISION-FREE identity key ->
    # one O(n) hash-table factorize, murmur only on the vocabulary.
    # pad so an 8/16-byte word gather at any token start stays in bounds
    flat_p = np.concatenate([flat, np.zeros(16, np.uint8)])
    _LEN_MASK = np.zeros(17, dtype=U64)
    for _l in range(1, 9):
        _LEN_MASK[_l] = U64((1 << (8 * _l)) - 1) if _l < 8 else U64(2**64 - 1)
    _LEN_MASK[9:] = U64(2**64 - 1)

    # zero-copy sliding byte windows: _words_at gathers ROWS of this view
    # (one fancy index over n positions) instead of building an (n, 8)
    # broadcast index matrix — same little-endian u64 reads, ~2x faster
    _byte_windows = np.lib.stride_tricks.sliding_window_view(flat_p, 8)

    def _words_at(pos: np.ndarray) -> np.ndarray:
        """(len(pos),) little-endian u64 read at each byte offset."""
        return _byte_windows[pos].view("<u8")[:, 0]

    idx8 = np.flatnonzero(lengths <= 8)
    if len(idx8):
        s_starts, s_lens = starts[idx8], lengths[idx8]
        # masked-word gather: 8 junk-tail bytes zeroed by the length mask
        # (no per-byte scatter, no repeat streams)
        w0 = _words_at(s_starts) & _LEN_MASK[s_lens]
        codes, uniq = pd.factorize(w0.view(np.int64))
        # first occurrence per unique (reversed write keeps the earliest)
        first = np.empty(len(uniq), dtype=np.int64)
        first[codes[::-1]] = np.arange(len(idx8) - 1, -1, -1, dtype=np.int64)
        ulen = s_lens[first].astype(U64)
        uh, _ = _final_mix(*_seeded(seed, len(uniq)), uniq.view(U64), None,
                           ulen)
        out[idx8] = uh[codes]

    # 9..15 bytes: (w0, w1) is likewise NUL-free-unambiguous; lexsort the
    # (small) remainder and hash unique rows. 16-byte tokens are EXCLUDED:
    # a full block triggers murmur's block mix, not the tail-only path.
    idx16 = np.flatnonzero((lengths > 8) & (lengths <= 15))
    if len(idx16):
        s_starts, s_lens = starts[idx16], lengths[idx16]
        m = len(idx16)
        w0a = _words_at(s_starts)  # first 8 bytes, always full
        w1a = _words_at(s_starts + 8) & _LEN_MASK[s_lens - 8]
        order = np.lexsort((w1a, w0a))
        w0, w1, ln = w0a[order], w1a[order], s_lens[order]
        new = np.ones(m, dtype=bool)
        new[1:] = (w0[1:] != w0[:-1]) | (w1[1:] != w1[:-1])
        ustart = np.flatnonzero(new)
        uh, _ = _final_mix(*_seeded(seed, len(ustart)), w0[ustart],
                           w1[ustart], ln[ustart].astype(U64))
        tmp = np.empty(m, dtype=U64)
        tmp[order] = uh[np.cumsum(new) - 1]
        out[idx16] = tmp

    idx_l = np.flatnonzero(lengths > 15)
    if len(idx_l):
        lh, _ = murmur3_128_bytes_segmented(
            flat, starts[idx_l], lengths[idx_l], seed)
        out[idx_l] = lh
    return out


def token_hashes_batch(
    texts: pd.Series, seed: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Tokenize a batch and hash every token.

    Returns (flat_token_hashes uint64, doc_seg_ids int64, n_tokens_per_doc).

    Fast path: pure-ASCII docs are tokenized byte-level in numpy (char-class
    state machine derived from _TOKEN_RE — tests assert identical streams)
    and hashed straight out of the flat byte buffer with the segmented
    murmur3 kernel — zero Python string objects. Docs containing non-ASCII
    bytes take the regex path (utf-8 continuation bytes have no per-byte
    code-point class)."""
    # '\n' separators keep AD runs from bridging adjacent docs
    flat, lens, doc_starts = encode_texts(texts, b"\n")
    n_docs = len(lens)
    if n_docs == 0 or int(lens.sum()) == 0:
        return (np.empty(0, U64), np.empty(0, np.int64),
                np.zeros(n_docs, np.int64))
    bad_docs = np.unique(np.searchsorted(
        doc_starts, np.flatnonzero(flat >= 0x80), side="right") - 1)
    if len(bad_docs):
        flat = flat.copy()
        flat[ranges(doc_starts[bad_docs], lens[bad_docs])] = 10  # blank to \n

    tok_starts, tok_lens = _token_spans_ascii(flat)
    # tokens per doc: search the (few) doc boundaries against the (many)
    # sorted token starts, not the other way round
    firsts = np.searchsorted(tok_starts, doc_starts)
    n_tokens = np.diff(np.r_[firsts, len(tok_starts)]).astype(np.int64)
    hashes = _hash_tokens_dedup(flat, tok_starts, tok_lens, seed)

    if len(bad_docs):
        fb_lists = [_TOKEN_RE.findall(t)
                    for t in np.asarray(texts, dtype=object)[bad_docs]]
        fb_counts = np.fromiter(map(len, fb_lists), np.int64,
                                count=len(fb_lists))
        fb_hashes, _ = murmur3_128_strings(
            [t for toks in fb_lists for t in toks], seed)
        # merge ascii + fallback streams back into doc order (blanked
        # docs hold no ascii tokens)
        n_ascii = n_tokens.copy()
        n_tokens[bad_docs] = fb_counts
        offs = offsets(n_tokens)
        out = np.empty(int(n_tokens.sum()), dtype=U64)
        out[ranges(offs, n_ascii)] = hashes
        out[ranges(offs[bad_docs], fb_counts)] = fb_hashes
        hashes = out
    return hashes, seg_ids(n_tokens), n_tokens


def word_gram_hashes_batch(texts: pd.Series, n: int,
                           seed: int = 9001) -> tuple[np.ndarray, np.ndarray]:
    """DISTINCT word-n-gram hashes per doc for a batch of texts.

    Word tokenization is whitespace-split (the text-analysis contract,
    not the code-token regex); a gram's identity is the murmur3 of its n
    word hashes (hash-triple identity == string identity modulo 2^-64
    collisions). Returns (flat gram hashes uint64, doc seg ids) with
    in-doc dedup done (sorted per segment).

    Fully vectorized: byte-level word spans -> dedup word hashing
    (_hash_tokens_dedup) -> in-document n-window murmur (window_hashes)
    -> per-document sorted distinct (sort_unique)."""
    flat, lens, doc_starts = encode_texts(texts, b"\n")
    n_docs = len(lens)
    if n_docs == 0 or int(lens.sum()) == 0:
        return np.empty(0, U64), np.empty(0, np.int64)
    # whitespace = RE2's \s class [ \t\n\f\r] exactly (the DuckDB oracle's
    # string_split_regex semantics). NOTE: python's ASCII \s ALSO matches
    # \x0b (vertical tab) — deliberately excluded here so a \v-bearing
    # document tokenizes identically in both engines (parity-tested).
    # Non-ASCII bytes are word bytes (utf-8 continuation bytes never
    # collide with ASCII space bytes, so byte-level spans are codepoint-safe)
    is_space = np.isin(flat, np.frombuffer(b" \t\n\r\x0c", np.uint8))
    is_word = ~is_space
    ws = np.flatnonzero(is_word[1:] & ~is_word[:-1]) + 1
    if is_word[0]:
        ws = np.r_[0, ws]
    we = np.flatnonzero(~is_word[1:] & is_word[:-1]) + 1
    if is_word[-1]:
        we = np.r_[we, len(flat)]
    w_hashes = _hash_tokens_dedup(flat, ws, we - ws, seed)
    firsts = np.searchsorted(ws, doc_starts)
    n_words = np.diff(np.r_[firsts, len(ws)]).astype(np.int64)
    gh, gseg = window_hashes(w_hashes, n_words, n, seed)
    gh, n_grams = sort_unique(gh, gseg, n_docs)
    return gh, seg_ids(n_grams)


def shingle_hashes_batch(
    token_hashes: np.ndarray, seg_ids: np.ndarray, n_tokens: np.ndarray,
    shingle_size: int, seed: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """w-gram shingle hashes for a batch, theta-screened (h1>>1, nonzero).

    Documents shorter than w tokens contribute one shingle over all their
    tokens (so short files still dedup). Returns (screened shingle hashes,
    seg ids aligned to them, n_shingles per doc BEFORE screening+dedup).
    Long documents' shingles come first, in document order, then one per
    short document: the seg ids are contiguous per document but not
    monotonic.
    """
    w = shingle_size
    # number of shingles per doc: max(n - w + 1, 1 if n > 0 else 0)
    n_shingles = np.where(n_tokens > 0, np.maximum(n_tokens - w + 1, 1), 0)
    if int(n_shingles.sum()) == 0:
        return (np.empty(0, U64), np.empty(0, np.int64), n_shingles)
    h1_long, seg_long = window_hashes(token_hashes, n_tokens, w, seed)
    # Short docs (< w tokens): one clamped shingle over all their tokens
    # (pad by repeating the last token) so tiny files still dedup.
    short = np.flatnonzero((n_tokens > 0) & (n_tokens < w))
    pad = np.minimum(np.arange(w), n_tokens[short, None] - 1)
    h1_short, _ = murmur3_128_int64_rows(
        token_hashes[offsets(n_tokens)[short, None] + pad], seed)
    h1 = np.concatenate([h1_long, h1_short])
    sh_seg = np.concatenate([seg_long, short.astype(np.int64)])
    sh = h1 >> U64(1)                            # theta screening shift
    keep = sh != U64(0)
    return sh[keep], sh_seg[keep], n_shingles
