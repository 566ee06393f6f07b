"""Deterministic synthetic source-code corpus with injected duplicates.

Implements the FIXTURES.md spec (seed 42, no external data): a `files`
table (repo, path, commit, lang, content) plus ground-truth tables
`truth_pairs(src_id, dst_id, kind)` and `truth_clusters(file_id,
cluster_id)` keyed by the pipeline's own file_id
(operators/signatures.py::file_ids_batch).

Duplicate kinds: exact (8%), near (12%, 1-10% token mutations), contained
(5%, A pasted inside B with 2x padding), boilerplate-skew (3 mega groups
sharing a 20-line license header — must NOT cluster), disjoint (rest).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from sparkdedup.operators.signatures import file_ids_batch

LANGS = ["go", "py", "java", "js", "c"]
LANG_W = [0.30, 0.25, 0.20, 0.15, 0.10]
EXT = {"go": "go", "py": "py", "java": "java", "js": "js", "c": "c"}

_KEYWORDS = {
    "go": ["func", "return", "if", "err", "nil", "for", "range", "var", "type", "struct"],
    "py": ["def", "return", "if", "None", "for", "in", "class", "import", "self", "with"],
    "java": ["public", "void", "return", "if", "null", "for", "class", "new", "static", "int"],
    "js": ["function", "return", "if", "null", "for", "const", "let", "class", "new", "await"],
    "c": ["int", "void", "return", "if", "NULL", "for", "char", "struct", "static", "sizeof"],
}
_PUNCT = ["(", ")", "{", "}", "[", "]", ";", ",", "=", "+", "-", "*", ".", ":", "<", ">"]

_HEADER_TOKENS = (
    "licensed to the example software foundation under one or more contributor "
    "license agreements see the notice file distributed with this work for "
    "additional information regarding copyright ownership the foundation licenses "
    "this file to you under the license version two point zero you may not use "
    "this file except in compliance with the license you may obtain a copy of "
    "the license at http www example org licenses unless required by applicable "
    "law or agreed to in writing software distributed under the license is "
    "distributed on an as is basis without warranties or conditions of any kind "
    "either express or implied see the license for the specific language "
    "governing permissions and limitations under the license"
).split()


@dataclass
class Corpus:
    files: pd.DataFrame          # repo, path, commit, lang, content
    truth_pairs: pd.DataFrame    # src_id, dst_id, kind
    truth_clusters: pd.DataFrame  # file_id, cluster_id
    meta: dict = field(default_factory=dict)


def _gen_content(rng: np.random.Generator, lang: str, vocab: np.ndarray,
                 min_lines: int = 20, max_lines: int = 400) -> str:
    """One file's source text, vectorized over its whole token stream.

    Token budget matches the FIXTURES.md spec (20-400 lines x ~40
    tokens/line); line breaks are inserted every ~40 tokens."""
    n_lines = int(rng.integers(min_lines, max_lines + 1))
    n_tok = int(n_lines * rng.integers(25, 55))
    kw = np.array(_KEYWORDS[lang])
    kinds = rng.random(n_tok)
    toks = np.where(
        kinds < 0.25, kw[rng.integers(0, len(kw), n_tok)],
        np.where(kinds < 0.75, vocab[rng.integers(0, len(vocab), n_tok)],
                 np.where(kinds < 0.9,
                          np.array(_PUNCT)[rng.integers(0, len(_PUNCT), n_tok)],
                          rng.integers(0, 10_000, n_tok).astype(str))))
    # newline roughly every 40 tokens (same \s+ token stream either way)
    toks = toks.astype(object)
    toks[39::40] = toks[39::40] + "\n"
    return " ".join(toks.tolist())


def _mutate(rng: np.random.Generator, content: str, rate: float) -> str:
    """Rename identifiers / drop / insert on ~rate of tokens."""
    toks = content.split(" ")
    n = len(toks)
    out = []
    repl = [f"renamed{int(rng.integers(0, 500))}" for _ in range(8)]
    for t in toks:
        r = rng.random()
        if r < rate * 0.6:
            out.append(repl[int(rng.integers(0, len(repl)))])  # rename
        elif r < rate * 0.8:
            continue                                            # drop
        elif r < rate:
            out.append(t)
            out.append(repl[int(rng.integers(0, len(repl)))])  # insert
        else:
            out.append(t)
    return " ".join(out)


def generate_corpus(n_files: int = 500, seed: int = 42,
                    min_lines: int = 20, max_lines: int = 400) -> Corpus:
    rng = np.random.default_rng(seed)
    vocab = np.array([f"id{i}" for i in range(500)])

    n_exact = int(n_files * 0.08)
    n_near = int(n_files * 0.12)
    n_contained = int(n_files * 0.05)
    bp_group_size = min(max(20, n_files // 25), 1000)
    n_boiler = 3 * bp_group_size
    n_base = n_files - n_exact - n_near - n_contained - n_boiler
    if n_base <= 0:
        raise ValueError(f"n_files={n_files} too small for injection spec")

    rows: list[tuple[str, str, str, str, str]] = []
    kinds: list[str] = []

    def add(lang, content, kind):
        i = len(rows)
        repo = f"org{i % 7}/repo{i % 53}"
        path = f"src/pkg{i % 97}/mod{i}.{EXT[lang]}"
        commit = "".join(rng.choice(list("0123456789abcdef"), 40))
        rows.append((repo, path, commit, lang, content))
        kinds.append(kind)
        return i

    langs = rng.choice(LANGS, n_base, p=LANG_W)
    base_ids = [add(l, _gen_content(rng, l, vocab, min_lines, max_lines), "base")
                for l in langs]

    pairs = []  # (src_idx, dst_idx, kind)
    # exact copies
    for _ in range(n_exact):
        src = int(rng.choice(base_ids))
        dst = add(rows[src][3], rows[src][4], "exact")
        pairs.append((src, dst, "exact"))
    # near duplicates (1-10% token mutation)
    for _ in range(n_near):
        src = int(rng.choice(base_ids))
        rate = float(rng.uniform(0.01, 0.10))
        dst = add(rows[src][3], _mutate(rng, rows[src][4], rate), "near")
        pairs.append((src, dst, "near"))
    # containment: A pasted inside B (B = pad + A + pad, |pads| ~ |A| each)
    for _ in range(n_contained):
        src = int(rng.choice(base_ids))
        lang = rows[src][3]
        pad1 = _gen_content(rng, lang, vocab, min_lines, max_lines)
        pad2 = _gen_content(rng, lang, vocab, min_lines, max_lines)
        big = pad1 + "\n" + rows[src][4] + "\n" + pad2
        dst = add(lang, big, "contained")
        pairs.append((src, dst, "contained"))
    # boilerplate mega-groups: shared 20-line header + unrelated bodies
    boiler_groups = []
    for g in range(3):
        hdr_lines = []
        hrng = np.random.default_rng(seed + 1000 + g)
        for _ in range(20):
            ln = hrng.choice(_HEADER_TOKENS, 14)
            hdr_lines.append("# " + " ".join(ln))
        header = "\n".join(hdr_lines)
        members = []
        for _ in range(bp_group_size):
            lang = str(rng.choice(LANGS, p=LANG_W))
            body = _gen_content(rng, lang, vocab, min_lines, max_lines)
            members.append(add(lang, header + "\n" + body, "boilerplate"))
        boiler_groups.append(members)

    df = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    fids = file_ids_batch(df["repo"], df["path"], df["commit"])
    assert len(np.unique(fids)) == len(fids), "file_id collision in fixture"

    truth_pairs = pd.DataFrame(
        [(int(fids[s]), int(fids[d]), k) for s, d, k in pairs],
        columns=["src_id", "dst_id", "kind"],
    )

    # ground-truth clusters: union-find over dup pairs (exact/near/contained)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d, k in pairs:
        union(int(fids[s]), int(fids[d]))
    truth_clusters = pd.DataFrame(
        {"file_id": fids, "cluster_id": [find(int(f)) for f in fids]}
    )
    return Corpus(
        files=df,
        truth_pairs=truth_pairs,
        truth_clusters=truth_clusters,
        meta={
            "n_files": len(df),
            "kinds": pd.Series(kinds).value_counts().to_dict(),
            "boiler_group_sizes": [len(g) for g in boiler_groups],
            "seed": seed,
        },
    )


def generate_threshold_band_corpus(
    n_pairs: int = 120, n_distractors: int = 80, seed: int = 1234,
    min_lines: int = 40, max_lines: int = 120,
) -> pd.DataFrame:
    """Adversarial recall corpus: duplicate pairs whose TRUE shingle
    Jaccard is spread ACROSS the detection threshold (r5 verdict ask #5 —
    the standard fixture's dup pairs sit far from the LSH S-curve's
    steep region, so measured recall there says nothing about
    near-threshold behavior).

    Each pair = (base file, rename-mutated twin) with per-pair mutation
    rate r solved from the target Jaccard via the 5-gram survival model
    s = (1-r)^w, J ~= s/(2-s); pure renames (no drops/inserts) keep the
    model tight. True J must still be MEASURED per pair from the exact
    distinct-shingle sets — the model only spreads targets.

    Returns a files DataFrame with columns (repo, path, commit, lang,
    content, pair_id, role) — role in {base, twin, distractor}.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"id{i}" for i in range(500)])
    # J targets sweep the S-curve: well below tau, the steep region
    # around tau=0.7, and the guaranteed-by-theory top end
    targets = np.linspace(0.50, 0.95, n_pairs)
    rows = []

    def add(content: str, pair_id: int, role: str):
        i = len(rows)
        rows.append({
            "repo": f"band/r{i % 11}", "path": f"p/{role}{i}.py",
            "commit": f"c{i}", "lang": "py", "content": content,
            "pair_id": pair_id, "role": role,
        })

    w = 5  # shingle size used by the J(r) model (DedupConfig default)
    for pid, J in enumerate(targets):
        base = _gen_content(rng, "py", vocab, min_lines, max_lines)
        s = 2 * J / (1 + J)
        r = 1.0 - s ** (1.0 / w)
        toks = base.split(" ")
        out = []
        for t in toks:
            if rng.random() < r:
                out.append(f"mut{int(rng.integers(0, 10**9))}")
            else:
                out.append(t)
        add(base, pid, "base")
        add(" ".join(out), pid, "twin")
    for _ in range(n_distractors):
        add(_gen_content(rng, "py", vocab, min_lines, max_lines), -1,
            "distractor")
    return pd.DataFrame(rows)
