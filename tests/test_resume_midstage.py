"""Mid-STAGE resume: kill the signature stage between buckets, rerun,
assert only incomplete buckets recompute and the final output is
bit-identical to an uninterrupted run."""

import pandas as pd
import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.pipeline import DedupPipeline

CFG = DedupConfig()


def test_bucketed_resume_identical(spark, small_corpus, tmp_path):
    files = spark.createDataFrame(small_corpus.files.head(80))

    # uninterrupted reference run
    ref = DedupPipeline(spark, CFG, workdir=str(tmp_path / "ref"),
                        signature_buckets=4)
    ref_out = ref.run(files).clusters.toPandas().sort_values(
        "file_id").reset_index(drop=True)

    # interrupted run: monkeypatch to abort after 2 buckets
    wd = tmp_path / "int"
    pipe = DedupPipeline(spark, CFG, workdir=str(wd), signature_buckets=4)

    import sparkdedup.pipeline as pl

    real_stage = pl.signature_stage
    calls = {"n": 0}

    def exploding_stage(*a, **k):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated executor loss")
        return real_stage(*a, **k)

    pl.signature_stage = exploding_stage
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            pipe.run(files)
    finally:
        pl.signature_stage = real_stage

    done = sorted(p.parent.name for p in
                  pipe._stage_dir("signatures").glob("bucket=*/_SUCCESS"))
    assert len(done) == 2  # two buckets committed before the crash

    # resume: only the 2 missing buckets recompute
    pipe2 = DedupPipeline(spark, CFG, workdir=str(wd), signature_buckets=4)
    res2 = pipe2.run(files)
    m = res2.metrics["stages"]["signatures"]
    assert m["buckets_resumed"] == 2
    got = res2.clusters.toPandas().sort_values("file_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref_out)

    # a third run resumes everything at stage level
    res3 = DedupPipeline(spark, CFG, workdir=str(wd),
                         signature_buckets=4).run(files)
    assert res3.metrics["stages"]["signatures"].get("resumed") is True


def test_lost_bucket_commit_recomputes_only_that_bucket(
        spark, small_corpus, tmp_path, monkeypatch):
    """Each signature bucket is committed by its own _SUCCESS: after a
    finished B=4 run, deleting one bucket's _SUCCESS makes the rerun
    recompute that bucket alone, and nothing is lost or duplicated.
    The edges and clusters commits go too, so the compared clusters are
    built from the recomputed bucket."""
    import shutil

    import sparkdedup.pipeline as pl

    files = spark.createDataFrame(small_corpus.files.head(80))
    wd = str(tmp_path / "wd")
    ref = DedupPipeline(spark, CFG, workdir=wd, signature_buckets=4)
    ref_out = ref.run(files).clusters.toPandas().sort_values(
        "file_id").reset_index(drop=True)
    (ref._stage_dir("signatures/bucket=2") / "_SUCCESS").unlink()
    for stage in ("edges", "clusters"):
        shutil.rmtree(ref._stage_dir(stage))

    real_stage = pl.signature_stage
    calls = []

    def counting_stage(*a, **k):
        calls.append(1)
        return real_stage(*a, **k)

    monkeypatch.setattr(pl, "signature_stage", counting_stage)
    res = DedupPipeline(spark, CFG, workdir=wd, signature_buckets=4).run(files)
    m = res.metrics["stages"]["signatures"]
    assert m["buckets_resumed"] == 3 and "resumed" not in m
    assert len(calls) == 1
    assert not any("resumed" in res.metrics["stages"][s]
                   for s in ("edges", "clusters"))
    ids = res.signatures.select("file_id").toPandas()["file_id"]
    assert len(ids) == ids.nunique() == 80
    got = res.clusters.toPandas().sort_values("file_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref_out)


def test_bucket_count_change_recomputes_signatures(spark, small_corpus,
                                                   tmp_path, monkeypatch):
    """Bucket commits record no bucket count, so a rerun with a different
    signature_buckets must not resume them: B=4 commits for buckets 0-1
    would skip B=2's buckets 0-1 (losing files) or feed stale bucket
    directories into the read-back (duplicating them)."""
    import sparkdedup.pipeline as pl

    files = spark.createDataFrame(small_corpus.files.head(80))
    ref = DedupPipeline(spark, CFG, workdir=str(tmp_path / "ref"),
                        signature_buckets=2).run(files)
    ref_out = ref.clusters.toPandas().sort_values(
        "file_id").reset_index(drop=True)

    wd = str(tmp_path / "int")
    real_stage = pl.signature_stage
    calls = {"n": 0}

    def exploding_stage(*a, **k):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated executor loss")
        return real_stage(*a, **k)

    monkeypatch.setattr(pl, "signature_stage", exploding_stage)
    with pytest.raises(RuntimeError, match="simulated"):
        DedupPipeline(spark, CFG, workdir=wd, signature_buckets=4).run(files)
    monkeypatch.undo()

    res = DedupPipeline(spark, CFG, workdir=wd, signature_buckets=2).run(files)
    ids = res.signatures.select("file_id").toPandas()["file_id"]
    assert len(ids) == ids.nunique() == 80
    got = res.clusters.toPandas().sort_values(
        "file_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref_out)


def test_schema_change_recomputes(spark, small_corpus, tmp_path,
                                  monkeypatch):
    """Stage outputs written under another signature or edge schema (an
    older release's columns) are not resumed: run_key hashes both
    schemas, so the rerun recomputes every stage."""
    import sparkdedup.pipeline as pl

    files = spark.createDataFrame(small_corpus.files.head(40))
    wd = str(tmp_path / "wd")
    first = DedupPipeline(spark, CFG, workdir=wd)
    first.run(files)
    key = first.run_key

    monkeypatch.setattr(pl, "SIGNATURE_SCHEMA",
                        pl.SIGNATURE_SCHEMA + ", minh array<long>")
    pipe = DedupPipeline(spark, CFG, workdir=wd)
    sig_key = pipe.run_key
    assert sig_key != key
    res = pipe.run(files)
    assert not any("resumed" in res.metrics["stages"][s]
                   for s in ("signatures", "edges", "clusters"))

    monkeypatch.undo()
    monkeypatch.setattr(pl, "EDGE_SCHEMA", pl.EDGE_SCHEMA + ", hamming int")
    assert DedupPipeline(spark, CFG, workdir=wd).run_key not in (
        key, sig_key)
