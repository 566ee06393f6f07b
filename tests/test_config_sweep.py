"""Pipeline/oracle parity across thresshold configs (tau sweep) — guards
against config-dependent divergence between the distributed plan and the
reference decision procedure."""

import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.oracle import run_oracle
from sparkdedup.pipeline import DedupPipeline


@pytest.mark.parametrize("tau", [0.5, 0.85])
def test_pipeline_matches_oracle_at_tau(spark, small_corpus, tau, tmp_path):
    cfg = DedupConfig(jaccard_threshold=tau)
    files = spark.createDataFrame(small_corpus.files.head(120))
    res = DedupPipeline(spark, cfg, workdir=str(tmp_path),
                        enable_containment=False).run(files)
    edges = res.edges.toPandas()
    p_lsh = set(zip(edges[edges.source == "lsh"].src,
                    edges[edges.source == "lsh"].dst))
    oracle = run_oracle(small_corpus.files.head(120), cfg, containment=False)
    assert p_lsh == oracle.lsh_edges


def test_config_hash_keys_checkpoints(tmp_path, spark, small_corpus):
    a = DedupConfig(jaccard_threshold=0.7)
    b = DedupConfig(jaccard_threshold=0.6)
    assert a.config_hash() != b.config_hash()


def test_pipeline_matches_oracle_alt_banding(spark, small_corpus, tmp_path):
    """Different banding geometry (32 bands x 4 rows) — parity must hold
    at any valid config, not just the default."""
    cfg = DedupConfig(num_bands=32, rows_per_band=4, jaccard_threshold=0.6)
    files = spark.createDataFrame(small_corpus.files.head(100))
    res = DedupPipeline(spark, cfg, workdir=str(tmp_path),
                        enable_containment=False).run(files)
    edges = res.edges.toPandas()
    p_lsh = set(zip(edges[edges.source == "lsh"].src,
                    edges[edges.source == "lsh"].dst))
    oracle = run_oracle(small_corpus.files.head(100), cfg, containment=False)
    assert p_lsh == oracle.lsh_edges


def test_containment_toggle_recomputes_edges(tmp_path, spark, small_corpus):
    """A run with containment off, then one with it on, in the SAME
    workdir: the second run must compute containment edges instead of
    resuming the first run's edges (enable_containment is part of the
    stage-dir key)."""
    cfg = DedupConfig()
    files = spark.createDataFrame(small_corpus.files)
    wd = str(tmp_path / "wd")
    off = DedupPipeline(spark, cfg, workdir=wd,
                        enable_containment=False).run(files)
    assert off.edges.filter("source = 'containment'").count() == 0

    on = DedupPipeline(spark, cfg, workdir=wd,
                       enable_containment=True).run(files)
    assert "resumed" not in on.metrics["stages"]["edges"]
    edges = on.edges.filter("source = 'containment'").toPandas()
    got = set(zip(edges.src.astype(int), edges.dst.astype(int)))
    want = run_oracle(small_corpus.files, cfg).containment_edges
    assert want and got == want
