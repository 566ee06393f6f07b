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

    done = sorted(p.name for p in
                  pipe._stage_dir("signatures").glob("_bucket_*"))
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
