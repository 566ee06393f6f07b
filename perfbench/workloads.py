"""Seeded input generators for the benchmark's three workloads.

Each generator returns an `Inputs`: the table the program reads (a files
table for the pipeline workloads, a documents table for the catalog one),
the injected duplicate pairs with their kind and true shingle Jaccard, the
ground-truth clusters, and a `shape` dict that every operation record
repeats. The program itself only ever sees the parquet written from
`Inputs.table`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from sparkdedup.config import DedupConfig
from sparkdedup.fixtures import (EXT, LANG_W, LANGS, _gen_content,
                                 _HEADER_TOKENS, _mutate, file_ids_batch,
                                 generate_corpus)
from sparkdedup.functions.tokenize import (shingle_hashes_batch,
                                           token_hashes_batch)

# A near pair at or above this true 5-gram Jaccard is banded together with
# probability 1 - (1 - 0.9**8)**16 > 0.9998 and its KMV estimate clears
# tau = 0.7 by many standard deviations, so missing one is a defect, not
# LSH sampling luck. Pairs below it are reported but not required.
SURE_JACCARD = 0.9

PIPELINE_WORKLOADS = ("repo_scan", "boilerplate_skew")
CATALOG_WORKLOADS = ("catalog_neardup",)
WORKLOADS = PIPELINE_WORKLOADS + CATALOG_WORKLOADS

_VOCAB = np.array([f"id{i}" for i in range(500)])
# tools/gen_scaled.py's documents vocabulary and language mix
_DOC_VOCAB = np.array([
    "the", "query", "row", "stream", "sort", "value", "hash", "filter",
    "big", "dup", "column", "order", "a", "vector", "part", "scan",
    "slow", "agg", "key", "window", "table", "merge", "join", "spark",
    "fast", "customer", "batch", "data", "line", "small", "group"])
_DOC_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_DOC_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


@dataclass
class Inputs:
    table: pd.DataFrame
    # a, b: ids in the program's output id space (file_id for the pipeline,
    # doc_id for the catalog); kind in {exact, near, contained}
    truth_pairs: pd.DataFrame
    truth_clusters: pd.DataFrame  # id, cluster
    shape: dict = field(default_factory=dict)

    @property
    def n_rows(self) -> int:
        return len(self.table)


def shingle_jaccard(a: list[str], b: list[str],
                    cfg: DedupConfig = DedupConfig()) -> np.ndarray:
    """Exact Jaccard of the distinct screened 5-gram shingle sets the
    signature kernel hashes, for each pair (a[i], b[i])."""
    texts = pd.Series(list(a) + list(b), dtype=object)
    tok_h, tok_seg, n_tok = token_hashes_batch(texts, cfg.seed)
    sh, seg, _ = shingle_hashes_batch(tok_h, tok_seg, n_tok,
                                      cfg.shingle_size, cfg.seed)
    order = np.argsort(seg, kind="stable")
    sh, seg = sh[order], seg[order]
    bounds = np.searchsorted(seg, np.arange(len(texts) + 1))
    sets = [np.unique(sh[bounds[i]:bounds[i + 1]]) for i in range(len(texts))]
    n = len(a)
    out = np.zeros(n)
    for i in range(n):
        sa, sb = sets[i], sets[n + i]
        inter = len(np.intersect1d(sa, sb, assume_unique=True))
        union = len(sa) + len(sb) - inter
        out[i] = inter / union if union else 1.0
    return out


def _union_find_clusters(ids: np.ndarray, links) -> pd.DataFrame:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in links:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.DataFrame({"id": ids.astype(np.int64),
                         "cluster": [find(int(i)) for i in ids]})


def _finish(table: pd.DataFrame, ids: np.ndarray,
            text_col: str, pairs: list[tuple[int, int, str]],
            extra_links=(), shape: dict | None = None) -> Inputs:
    """pairs are row indices into table; ids maps rows to output ids."""
    texts = table[text_col].tolist()
    tp = pd.DataFrame(pairs, columns=["ra", "rb", "kind"])
    tp["jaccard"] = 1.0
    near = tp["kind"] == "near"
    if near.any():
        tp.loc[near, "jaccard"] = shingle_jaccard(
            [texts[i] for i in tp.loc[near, "ra"]],
            [texts[i] for i in tp.loc[near, "rb"]])
    tp["sure"] = (tp["kind"] != "near") | (tp["jaccard"] >= SURE_JACCARD)
    tp["a"] = ids[tp["ra"].to_numpy()]
    tp["b"] = ids[tp["rb"].to_numpy()]
    links = list(zip(tp["a"], tp["b"])) + [
        (ids[i], ids[j]) for i, j in extra_links]
    clusters = _union_find_clusters(ids, links)
    kinds = tp.groupby("kind").size().to_dict()
    lens = table[text_col].str.len()
    shape = {
        "rows": len(table),
        "bytes": int(lens.sum()),
        "tokens": int(table[text_col].str.count(r"\s+").sum()) + len(table),
        "truth_pairs": {k: int(v) for k, v in kinds.items()},
        "truth_pairs_sure": int(tp["sure"].sum()),
        **(shape or {}),
    }
    return Inputs(table, tp[["a", "b", "kind", "jaccard", "sure"]], clusters,
                  shape)


def repo_scan(seed: int, scale: float = 1.0) -> Inputs:
    """FIXTURES-spec corpus: 20-400-line files, 8% exact, 12% near, 5%
    contained, 3 boilerplate groups with long bodies that must not merge."""
    c = generate_corpus(n_files=max(100, int(600 * scale)), seed=seed)
    ids = file_ids_batch(c.files["repo"], c.files["path"], c.files["commit"])
    row_of = {int(f): i for i, f in enumerate(ids)}
    pairs = [(row_of[int(s)], row_of[int(d)], k) for s, d, k in
             c.truth_pairs.itertuples(index=False)]
    return _finish(c.files, ids, "content", pairs,
                   shape={"boiler_group_sizes": c.meta["boiler_group_sizes"]})


def boilerplate_skew(seed: int, scale: float = 1.0) -> Inputs:
    """Short files under a few shared license headers, plus plain short
    files and exact, near and contained copies.

    A header is ~300 tokens and a body 8-30, so the header owns >90% of a
    member's shingles: most bands of a member hash to the header's band
    value, every header group fills buckets past `bucket_cap`, and members
    verify as near-duplicates of one another (true Jaccard >= 0.8), so
    each header group is one expected cluster. Header anchors are shared
    by the whole group, which exceeds the containment posting cap."""
    rng = np.random.default_rng(seed)
    n_groups = 4
    group_size = max(100, int(150 * scale))
    n_plain = max(40, int(200 * scale))
    rows: list[tuple[str, str, str, str, str]] = []

    def add(lang: str, content: str) -> int:
        i = len(rows)
        repo = f"skew{i % 5}/repo{i % 41}"
        path = f"lib/m{i % 89}/f{i}.{EXT[lang]}"
        commit = "".join(rng.choice(list("0123456789abcdef"), 40))
        rows.append((repo, path, commit, lang, content))
        return i

    def lang() -> str:
        return str(rng.choice(LANGS, p=LANG_W))

    def body(lg: str, n_tok: int) -> str:
        return " ".join(_gen_content(rng, lg, _VOCAB, 1, 1).split(" ")[:n_tok])

    extra_links = []
    groups = []
    for g in range(n_groups):
        header = "\n".join(
            "# " + " ".join(rng.choice(_HEADER_TOKENS, 14)) for _ in range(20))
        members = []
        for _ in range(group_size):
            lg = lang()
            members.append(add(lg, header + "\n"
                               + body(lg, int(rng.integers(8, 31)))))
        extra_links += [(members[0], m) for m in members[1:]]
        groups.append(members)
    plain = []
    for _ in range(n_plain):
        lg = lang()
        plain.append(add(lg, _gen_content(rng, lg, _VOCAB, 2, 8)))

    pairs: list[tuple[int, int, str]] = []
    originals = [m for g in groups for m in g] + plain
    for _ in range(len(originals) // 10):
        src = int(rng.choice(originals))
        pairs.append((src, add(rows[src][3], rows[src][4]), "exact"))
    for _ in range(len(originals) // 10):
        src = int(rng.choice(originals))
        rate = float(rng.uniform(0.005, 0.03))
        pairs.append((src, add(rows[src][3],
                               _mutate(rng, rows[src][4], rate)), "near"))
    # a containee needs >= containment_anchor_window (128) shingles for
    # the anchor scheme's recall guarantee
    long_plain = [i for i in plain if len(rows[i][4].split()) >= 200]
    for _ in range(max(5, len(originals) // 40)):
        src = int(rng.choice(long_plain))
        lg = rows[src][3]
        big = (_gen_content(rng, lg, _VOCAB, 2, 6) + "\n" + rows[src][4]
               + "\n" + _gen_content(rng, lg, _VOCAB, 2, 6))
        pairs.append((src, add(lg, big), "contained"))

    df = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                     "content"])
    ids = file_ids_batch(df["repo"], df["path"], df["commit"])
    return _finish(df, ids, "content", pairs,
                   extra_links=extra_links,
                   shape={"header_groups": [len(g) for g in groups]})


def catalog_documents(seed: int, scale: float = 1.0) -> Inputs:
    """A documents table in the catalog schema (doc_id, text, lang, source,
    n_chars), drawn the way tools/gen_scaled.py's gen_documents draws it:
    40-80 words, 0.5% planted near pairs, 8 exact copies per 5000 docs."""
    rng = np.random.default_rng(seed)
    n = max(400, int(2000 * scale))
    lens = rng.integers(40, 81, size=n)
    texts = [" ".join(rng.choice(_DOC_VOCAB, size=ln)) for ln in lens]
    pairs: list[tuple[int, int, str]] = []
    # A near copy differs in its last word only (true 5-gram Jaccard >=
    # 0.94, LSH miss probability < 1e-7). The oracle is exact all-pairs
    # Jaccard, so a near pair that LSH may miss, such as gen_documents'
    # interior edits, would fail the oracle comparison for some seeds.
    n_near = max(1, n // 200)
    for i, s in enumerate(rng.choice(n // 2, size=n_near, replace=False)):
        dst = n // 2 + i
        toks = texts[s].split()
        toks[-1] = str(rng.choice(_DOC_VOCAB[_DOC_VOCAB != toks[-1]]))
        texts[dst] = " ".join(toks)
        pairs.append((int(s), dst, "near"))
    n_exact = max(1, n * 8 // 5000)
    for i, s in enumerate(rng.choice(n // 3, size=n_exact, replace=False)):
        texts[n - 1 - i] = texts[s]
        pairs.append((int(s), n - 1 - i, "exact"))
    table = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_DOC_LANGS, size=n, p=_DOC_LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return _finish(table, table["doc_id"].to_numpy(), "text", pairs)


GENERATORS = {
    "repo_scan": repo_scan,
    "boilerplate_skew": boilerplate_skew,
    "catalog_neardup": catalog_documents,
}


def docs_as_files(docs: pd.DataFrame) -> pd.DataFrame:
    """The catalog queries' docs -> files adapter (repo 'docs', path =
    doc_id, commit '0'), so the pipeline layers can replay on documents."""
    return pd.DataFrame({
        "repo": "docs", "path": docs["doc_id"].astype(str), "commit": "0",
        "lang": docs["lang"], "content": docs["text"]})


def files_as_docs(files: pd.DataFrame) -> pd.DataFrame:
    """A files table in the catalog's documents schema, so the catalog
    queries can replay on a pipeline workload's files."""
    return pd.DataFrame({
        "doc_id": np.arange(len(files), dtype=np.int64),
        "text": files["content"].to_numpy(),
        "lang": files["lang"].to_numpy(),
        "source": files["repo"].to_numpy(),
        "n_chars": files["content"].str.len().to_numpy(dtype=np.int64)})
