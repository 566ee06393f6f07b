"""Degenerate-input robustness for the signature stage and pipeline."""

import numpy as np
import pandas as pd
import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.operators.signatures import compute_signatures_pdf

CFG = DedupConfig()


def _pdf(contents):
    return pd.DataFrame({
        "repo": [f"r{i}" for i in range(len(contents))],
        "path": [f"p{i}" for i in range(len(contents))],
        "commit": ["0"] * len(contents),
        "lang": ["py"] * len(contents),
        "content": contents,
    })


def test_degenerate_contents_kernel():
    out = compute_signatures_pdf(_pdf([
        "",                      # empty
        "   \n\t  ",             # whitespace only
        "x",                     # single token
        "x y",                   # fewer tokens than shingle width
        "日本語のテキスト 😀 emoji",  # non-ascii
        "a" * 100_000,           # one huge token
        None,                    # null content
    ]), CFG)
    assert len(out) == 7
    assert out["file_id"].nunique() == 7
    # empty/whitespace/null docs: zero shingles, zero kmv
    for i in (0, 1, 6):
        assert out.loc[i, "n_shingles"] == 0
        assert out.loc[i, "kmv_count"] == 0
    # everything else has at least one shingle and a full set of bands
    for i in (2, 3, 4, 5):
        assert out.loc[i, "n_shingles"] >= 1
        assert len(out.loc[i, "bands"]) == CFG.num_bands
    # null content normalizes to "" -> same sha as the empty doc
    assert out["sha"].nunique() == 6


def test_degenerate_pipeline(spark, tmp_path):
    from sparkdedup.pipeline import DedupPipeline

    files = spark.createDataFrame(_pdf([
        "", "", "x", "x", "real content words here " * 30,
        "real content words here " * 30, "日本語 テスト " * 40, None,
    ]))
    res = DedupPipeline(spark, CFG, workdir=str(tmp_path)).run(files)
    clusters = res.clusters.toPandas()
    assert len(clusters) == 8
    cl = clusters.set_index("file_id")["cluster_id"]
    # exact duplicates cluster together (incl. the two empty docs)
    edges = res.edges.toPandas()
    assert len(edges[edges.source == "sha"]) >= 3
