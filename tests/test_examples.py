"""Executable docs — mirrors the reference's examples/ package
(examples/theta_example_test.go:28-80: the canonical build -> compact ->
union -> intersection -> a-not-b flow with tolerance assertions)."""

import numpy as np
import pytest

from sparkdedup.functions.murmur3 import murmur3_128_int64_single
from sparkdedup.functions.theta import (
    jaccard,
    kmv_a_not_b,
    kmv_from_hashes,
    kmv_intersect,
    kmv_union,
    screen_hashes,
)


def _sketch_of(lo, hi, k=4096):
    """Build a KMV sketch from the int64 stream lo..hi-1 (the reference's
    golden-vector stream shape)."""
    vals = np.arange(lo, hi, dtype=np.uint64)
    h1, _ = murmur3_128_int64_single(vals, 9001)
    return kmv_from_hashes(screen_hashes(h1), k)


def test_theta_example_flow():
    """1M-item sketches: union/intersection/a-not-b estimates within the
    reference's example tolerances."""
    n = 100_000
    # A = [0, n), B = [n/2, 3n/2): half-overlapping streams
    a = _sketch_of(0, n)
    b = _sketch_of(n // 2, n + n // 2)

    assert a.estimate() == pytest.approx(n, rel=0.03)
    assert b.estimate() == pytest.approx(n, rel=0.03)

    u = kmv_union(a, b, 4096)
    assert u.estimate() == pytest.approx(1.5 * n, rel=0.04)

    i = kmv_intersect(a, b)
    assert i.estimate() == pytest.approx(0.5 * n, rel=0.06)

    d = kmv_a_not_b(a, b)
    assert d.estimate() == pytest.approx(0.5 * n, rel=0.06)

    lb, est, ub = jaccard(a, b)
    assert lb <= est <= ub
    assert est == pytest.approx(1 / 3, rel=0.10)


def test_dedup_example_flow(spark, tmp_path):
    """Five-line end-to-end dedup: the repo's README usage."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.pipeline import DedupPipeline

    files = spark.createDataFrame(
        [("r", f"f{i}", "0", "py",
          f"def f{i % 3}(): return " + (f"word{i % 3}_" + "%d " % (i % 3)) * 50)
         for i in range(12)],
        "repo string, path string, commit string, lang string, content string")
    res = DedupPipeline(spark, DedupConfig(), workdir=str(tmp_path)).run(files)
    clusters = res.clusters.toPandas()
    # 12 files with 3 distinct contents -> 3 clusters
    assert clusters.cluster_id.nunique() == 3


def test_sources_schema_enforcement(spark, tmp_path):
    from sparkdedup.sources.files_source import (SchemaError,
                                                 enforce_files_schema,
                                                 read_files_table)
    import pytest as _pytest

    df = spark.createDataFrame(
        [("r", "p", "c", "py", "x", 1)],
        "repo string, path string, commit string, lang string, "
        "content string, extra int")
    out = enforce_files_schema(df)
    assert out.columns == ["repo", "path", "commit", "lang", "content"]
    with _pytest.raises(SchemaError):
        enforce_files_schema(df.drop("lang"))
    p = str(tmp_path / "files")
    df.write.parquet(p)
    assert read_files_table(spark, p).count() == 1
