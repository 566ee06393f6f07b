"""Property-based tests (hypothesis) for the hash and sketch kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkdedup.functions.murmur3 import (
    murmur3_128_bytes,
    murmur3_128_int64_rows,
    murmur3_128_int64_scalar,
    murmur3_128_scalar,
)
from sparkdedup.functions.theta import (
    MAX_THETA,
    kmv_a_not_b,
    kmv_from_hashes,
    kmv_intersect,
    kmv_union,
    pairwise_kmv_jaccard,
)


@given(st.binary(min_size=0, max_size=200), st.integers(0, 2**32))
@settings(max_examples=200, deadline=None)
def test_murmur3_vectorized_equals_scalar(data, seed):
    v1, v2 = murmur3_128_bytes([data], seed)
    s1, s2 = murmur3_128_scalar(data, seed)
    assert (int(v1[0]), int(v2[0])) == (s1, s2)


@given(st.lists(st.integers(0, 2**63 - 1), min_size=1, max_size=9),
       st.integers(0, 2**32))
@settings(max_examples=100, deadline=None)
def test_int64_rows_equals_scalar(values, seed):
    rows = np.array([values], dtype=np.uint64)
    h1, h2 = murmur3_128_int64_rows(rows, seed)
    s1, s2 = murmur3_128_int64_scalar(values, seed)
    assert (int(h1[0]), int(h2[0])) == (s1, s2)


_hash_sets = st.lists(st.integers(1, 2**62), min_size=0, max_size=400,
                      unique=True)


@given(_hash_sets, _hash_sets, st.integers(8, 64))
@settings(max_examples=100, deadline=None)
def test_kmv_set_algebra_invariants(a_vals, b_vals, k):
    a = kmv_from_hashes(np.array(a_vals, dtype=np.uint64), k)
    b = kmv_from_hashes(np.array(b_vals, dtype=np.uint64), k)
    u = kmv_union(a, b, k)
    i = kmv_intersect(a, b)
    d = kmv_a_not_b(a, b)
    # structural invariants
    assert u.num_retained <= k
    assert np.all(np.diff(u.entries.astype(np.int64)) > 0)  # sorted distinct
    assert u.theta <= min(a.theta, b.theta)
    assert set(i.entries.tolist()) <= set(a.entries.tolist())
    assert set(d.entries.tolist()) <= set(a.entries.tolist())
    assert set(i.entries.tolist()).isdisjoint(d.entries.tolist())
    # below min-theta, intersection+difference partition A's survivors
    theta = min(a.theta, b.theta)
    surv = {e for e in a.entries.tolist() if e < theta}
    assert set(i.entries.tolist()) | set(d.entries.tolist()) == surv


@given(_hash_sets, _hash_sets)
@settings(max_examples=100, deadline=None)
def test_pairwise_jaccard_exact_when_untruncated(a_vals, b_vals):
    """With k >= |A|+|B| (no trimming) the estimate IS the exact Jaccard."""
    k = 1024
    a = kmv_from_hashes(np.array(a_vals, dtype=np.uint64), k)
    b = kmv_from_hashes(np.array(b_vals, dtype=np.uint64), k)
    K = 1024
    sa = np.zeros((1, K), np.uint64)
    sb = np.zeros((1, K), np.uint64)
    sa[0, : a.num_retained] = a.entries
    sb[0, : b.num_retained] = b.entries
    lb, est, ub, inter = pairwise_kmv_jaccard(
        sa, np.array([a.theta], np.uint64), np.array([a.num_retained]),
        sb, np.array([b.theta], np.uint64), np.array([b.num_retained]))
    A, B = set(a_vals), set(b_vals)
    if not A and not B:
        assert est[0] == 1.0
    elif not A or not B:
        assert est[0] == 0.0
    else:
        true_j = len(A & B) / len(A | B)
        assert est[0] == true_j
        assert lb[0] <= est[0] <= ub[0]
    assert inter[0] == len(A & B)


# --------------------------------------------------------------------------
# tokenizer fast-path parity (the numpy ASCII state machine vs the regex)
# --------------------------------------------------------------------------

def _regex_token_hashes(texts, seed=9001):
    import pandas as pd

    from sparkdedup.functions.tokenize import _TOKEN_RE
    token_lists = [_TOKEN_RE.findall(t) if isinstance(t, str) else []
                   for t in texts]
    n = np.array([len(t) for t in token_lists], np.int64)
    flat = [t for toks in token_lists for t in toks]
    if not flat:
        return np.empty(0, np.uint64), n
    codes, uniques = pd.factorize(pd.Series(flat, dtype=object))
    uh1, _ = murmur3_128_bytes([u.encode("utf-8") for u in uniques], seed)
    return uh1[codes], n


@given(st.lists(st.text(min_size=0, max_size=120), min_size=0, max_size=12))
@settings(max_examples=150, deadline=None)
def test_tokenizer_fast_path_matches_regex(texts):
    """token_hashes_batch (numpy byte-level fast path + per-doc regex
    fallback for non-ASCII) must produce the exact token-hash stream and
    per-doc counts of the reference regex path, on ARBITRARY unicode."""
    import pandas as pd

    from sparkdedup.functions.tokenize import token_hashes_batch

    got_h, got_seg, got_n = token_hashes_batch(pd.Series(texts), 9001)
    want_h, want_n = _regex_token_hashes(texts)
    assert np.array_equal(got_n, want_n)
    assert np.array_equal(got_h, want_h)
    assert np.array_equal(got_seg,
                          np.repeat(np.arange(len(texts), dtype=np.int64),
                                    got_n))


@given(st.lists(st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=127),
    min_size=0, max_size=300), min_size=1, max_size=8))
@settings(max_examples=150, deadline=None)
def test_tokenizer_ascii_path_matches_regex(texts):
    """Pure-ASCII inputs exercise ONLY the numpy state machine (no regex
    fallback) — same parity contract, denser coverage of the class table."""
    import pandas as pd

    from sparkdedup.functions.tokenize import token_hashes_batch

    got_h, _, got_n = token_hashes_batch(pd.Series(texts), 9001)
    want_h, want_n = _regex_token_hashes(texts)
    assert np.array_equal(got_n, want_n)
    assert np.array_equal(got_h, want_h)


@given(st.lists(st.text(
    alphabet=st.sampled_from(list("ab \t\n\x0b\x0c\x00é9")),
    min_size=0, max_size=80), min_size=1, max_size=8))
@settings(max_examples=150, deadline=None)
def test_word_gram_hashes_match_string_grams(texts):
    """word_gram_hashes_batch's hash-triple gram identity must agree with
    string-gram identity: per-doc distinct counts AND pairwise
    intersection sizes (the quantities the jaccard query consumes) equal
    the pure-python string computation — including NUL bytes in words
    (the packed-word dedup fast path must detect and bypass them) and
    \\x0b vertical tabs (a WORD byte under RE2's \\s, unlike python's,
    so the reference split here is the explicit RE2 class)."""
    import re

    import pandas as pd

    from sparkdedup.functions.tokenize import word_gram_hashes_batch

    gh, seg = word_gram_hashes_batch(pd.Series(texts), 3)
    got = {}
    for h, s in zip(gh, seg):
        got.setdefault(int(s), set()).add(int(h))

    want = {}
    for d, t in enumerate(texts):
        ws = [w for w in re.split("[ \t\n\f\r]+", t) if w]
        if len(ws) >= 3:
            want[d] = {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}
    assert set(got) == set(want)
    for d in want:
        assert len(got[d]) == len(want[d]), (d, texts[d])
    docs = sorted(want)
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = docs[i], docs[j]
            assert len(got[a] & got[b]) == len(want[a] & want[b])


def test_class_masks_match_lut_all_ascii():
    """The arithmetic char-class masks inside _token_spans_ascii must
    equal _CLS_TABLE for every ASCII byte (incl. \\x1c-\\x1f, which
    python's Unicode \\s counts as whitespace unlike POSIX isspace)."""
    import numpy as np

    from sparkdedup.functions.tokenize import (_CLS_A, _CLS_D, _CLS_P,
                                               _CLS_TABLE, _CLS_W)

    buf = np.arange(128, dtype=np.uint8)
    low = buf | np.uint8(0x20)
    is_digit = (buf - np.uint8(48)) < np.uint8(10)
    is_alpha = ((low - np.uint8(97)) < np.uint8(26)) | (buf == np.uint8(95))
    is_ad = is_alpha | is_digit
    is_p = ~(is_ad | ((buf - np.uint8(9)) < np.uint8(5))
             | ((buf - np.uint8(28)) < np.uint8(5)))
    cls = _CLS_TABLE[buf]
    assert np.array_equal(is_alpha, cls == _CLS_A)
    assert np.array_equal(is_digit, cls == _CLS_D)
    assert np.array_equal(is_p, cls == _CLS_P)
    assert np.array_equal(~(is_ad | is_p), cls == _CLS_W)


@given(st.lists(st.lists(st.integers(0, 20), max_size=12), max_size=8),
       st.integers(1, 4), st.randoms(use_true_random=False))
@settings(max_examples=150, deadline=None)
def test_segments_match_per_document_numpy(docs, w, rnd):
    """The segmented-array helpers equal a per-document NumPy loop on
    empty batches, empty documents and values whose document ids are
    contiguous-but-unordered (the short-document block of
    shingle_hashes_batch) or fully shuffled (the KMV aggregate)."""
    import pandas as pd

    from sparkdedup.functions.segments import (cells, from_cells,
                                               smallest_k, sort_unique,
                                               window_hashes)

    n = len(docs)
    arrs = [np.array(d, dtype=np.uint64) for d in docs]
    counts = np.array([len(a) for a in arrs], dtype=np.int64)
    flat = np.concatenate(arrs) if n else np.empty(0, np.uint64)
    uniq = [np.unique(a) for a in arrs]

    # window hashes: in-document w-windows only, in document order
    wh, wseg = window_hashes(flat, counts, w, 9001)
    want = [(int(murmur3_128_int64_rows(a[None, i:i + w], 9001)[0][0]), d)
            for d, a in enumerate(arrs) for i in range(len(a) - w + 1)]
    assert list(zip(wh.tolist(), wseg.tolist())) == want

    # sort_unique over blocks in a shuffled order, then over shuffled values
    block_order = list(range(n))
    rnd.shuffle(block_order)
    seg = np.repeat(np.arange(n, dtype=np.int64), counts)
    blocks = [np.flatnonzero(seg == d) for d in block_order]
    perm = np.concatenate(blocks) if n else np.empty(0, np.int64)
    shuffled = np.array(rnd.sample(range(len(flat)), len(flat)), np.int64)
    for p in (perm, shuffled):
        u, uc = sort_unique(flat[p], seg[p], n)
        assert uc.tolist() == [len(x) for x in uniq]
        assert u.tolist() == [v for x in uniq for v in x.tolist()]

    # k smallest + theta, over sort_unique's layout
    u, uc = sort_unique(flat, seg, n)
    k = 3
    kept, kc, theta = smallest_k(u, uc, k)
    assert u[kept].tolist() == [v for x in uniq for v in x[:k].tolist()]
    assert kc.tolist() == [min(len(x), k) for x in uniq]
    assert theta.tolist() == [int(x[k]) if len(x) > k else MAX_THETA
                              for x in uniq]

    # cells round trip through the pandas object column
    col = cells(flat.view(np.int64), counts)
    assert len(col) == n
    for c, a in zip(col, arrs):
        assert np.array_equal(c, a.view(np.int64))
    back, back_counts = from_cells(pd.Series(col, dtype=object))
    assert np.array_equal(back, flat.view(np.int64))
    assert np.array_equal(back_counts, counts)
    # inferred element type (string cells here); None cells, and a
    # column of only None cells, read as empty
    strs = pd.Series([[str(v) for v in a] for a in arrs] + [None],
                     dtype=object)
    back, back_counts = from_cells(strs, None)
    assert back.tolist() == [str(v) for v in flat.tolist()]
    assert back_counts.tolist() == counts.tolist() + [0]
