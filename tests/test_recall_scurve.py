"""Near-threshold recall: measured S-curve vs theory (r5 verdict ask #5).

The standard fixture's dup pairs sit far from the LSH threshold, so its
recall=1.0 says nothing about behavior near tau. This gate builds pairs
whose TRUE shingle Jaccard sweeps 0.50-0.95, measures end-to-end recall
per J band, and checks it against the 16x8 banding S-curve
P_band(J) = 1-(1-J^8)^16 combined with the KMV-verify acceptance
P(est >= tau) (normal approx, sigma ~ sqrt(J(1-J)/k)).

The HARD gates:
  - pipeline == oracle cluster assignments on this adversarial corpus
    (the north rule's recall >= 0.99 vs reference assignments, here 1.0)
  - J >= 0.90 pairs: recall == 1.0 (theory: P_band >= 0.9995)
  - J in [0.80, 0.90): recall >= 0.90 (theory ~0.95+)
The per-band table is printed for BENCH reporting; the steep region
(J in [0.6, 0.8)) is checked against theory with a generous tolerance —
it documents the S-curve, it does not pretend 0.99 recall there.
"""

import math

import numpy as np
import pandas as pd
import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.fixtures import generate_threshold_band_corpus
from sparkdedup.oracle import run_oracle
from sparkdedup.pipeline import DedupPipeline

CFG = DedupConfig()


def _true_jaccards(files: pd.DataFrame) -> pd.DataFrame:
    """(pair_id, j_true) from exact distinct-shingle sets."""
    from sparkdedup.functions.tokenize import (shingle_hashes_batch,
                                               token_hashes_batch)

    th, seg, ntok = token_hashes_batch(files["content"], CFG.seed)
    sh, sseg, _ = shingle_hashes_batch(th, seg, ntok, CFG.shingle_size,
                                       CFG.seed)
    sets = {i: set() for i in range(len(files))}
    for h, s in zip(sh.tolist(), sseg.tolist()):
        sets[s].add(h)
    rows = []
    for pid, grp in files.groupby("pair_id"):
        if pid < 0:
            continue
        i, j = grp.index[grp.role == "base"][0], grp.index[grp.role == "twin"][0]
        a, b = sets[i], sets[j]
        rows.append({"pair_id": pid,
                     "j_true": len(a & b) / len(a | b) if a | b else 0.0})
    return pd.DataFrame(rows)


def _expected_recall(j: float, tau: float, bands: int, rows: int,
                     k: int) -> float:
    p_band = 1.0 - (1.0 - j ** rows) ** bands
    sigma = math.sqrt(max(j * (1 - j), 1e-9) / k)
    # P(KMV jaccard estimate >= tau), normal approximation
    z = (j - tau) / sigma
    p_verify = 0.5 * (1.0 + math.erf(z / math.sqrt(2.0)))
    return p_band * p_verify


@pytest.fixture(scope="module")
def band_run(spark, tmp_path_factory):
    files = generate_threshold_band_corpus(n_pairs=120, n_distractors=80,
                                           seed=1234)
    jt = _true_jaccards(files)
    plain = files[["repo", "path", "commit", "lang", "content"]]
    res = DedupPipeline(spark, CFG, workdir=str(
        tmp_path_factory.mktemp("band_run"))).run(
        spark.createDataFrame(plain))
    clusters = res.clusters.toPandas()
    oracle = run_oracle(plain, CFG)
    return files, jt, clusters, oracle


def test_adversarial_corpus_matches_oracle(band_run):
    """North-rule gate holds on the adversarial corpus too: recall vs
    reference(=oracle) assignments is exactly 1.0."""
    _files, _jt, clusters, oracle = band_run
    ours = {(int(r.file_id), int(r.cluster_id))
            for _, r in clusters.iterrows()}
    ref = set(oracle.clusters.items())
    assert ours == ref


def test_near_threshold_recall_bands(band_run):
    from sparkdedup.fixtures import file_ids_batch

    files, jt, clusters, _oracle = band_run
    fid = file_ids_batch(files["repo"], files["path"], files["commit"])
    files = files.assign(file_id=fid)
    cl = dict(zip(clusters.file_id.astype(int), clusters.cluster_id.astype(int)))
    hits = {}
    for pid, grp in files[files.pair_id >= 0].groupby("pair_id"):
        ids = grp.file_id.astype(int).tolist()
        hits[pid] = len({cl[i] for i in ids}) == 1
    jt = jt.assign(hit=jt.pair_id.map(hits))

    edges = [(0.5, 0.6), (0.6, 0.7), (0.7, 0.8), (0.8, 0.9), (0.9, 1.01)]
    table = []
    for lo, hi in edges:
        sub = jt[(jt.j_true >= lo) & (jt.j_true < hi)]
        if not len(sub):
            continue
        emp = sub.hit.mean()
        exp = float(np.mean([_expected_recall(j, CFG.jaccard_threshold,
                                              CFG.num_bands,
                                              CFG.rows_per_band, CFG.kmv_k)
                             for j in sub.j_true]))
        table.append((lo, hi, len(sub), emp, exp))
    print("\nJ band      n   recall  expected(S-curve*verify)")
    for lo, hi, n, emp, exp in table:
        print(f"[{lo:.2f},{hi:.2f})  {n:3d}   {emp:.3f}   {exp:.3f}")

    by_band = {(lo, hi): (n, emp, exp) for lo, hi, n, emp, exp in table}
    # top of the curve: theory says ~1; gate hard
    n, emp, _ = by_band[(0.9, 1.01)]
    assert n >= 10 and emp == 1.0
    n, emp, _ = by_band[(0.8, 0.9)]
    assert emp >= 0.90
    # steep region: within a generous tolerance of theory (documents the
    # S-curve rather than overclaiming recall there)
    for band in [(0.6, 0.7), (0.7, 0.8)]:
        n, emp, exp = by_band[band]
        tol = max(0.25, 4.0 * math.sqrt(exp * (1 - exp) / n))
        assert abs(emp - exp) <= tol, (band, emp, exp, tol)
    # below the threshold nothing should cluster (precision side)
    n, emp, _ = by_band[(0.5, 0.6)]
    assert emp <= 0.10
