"""Mega-bucket cap behavior: bounded pair generation + windowed pairing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.operators.lsh import candidate_pairs


def _fake_sigs(spark, n, shared_band_hash, cap_band=0):
    """n signatures all colliding in band 0 (a boilerplate mega bucket)."""
    rows = []
    rng = np.random.default_rng(7)
    for i in range(n):
        bands = rng.integers(-2**62, 2**62, 16).tolist()
        bands[cap_band] = shared_band_hash
        rows.append((i, int(rng.integers(-2**62, 2**62)), bands))
    return spark.createDataFrame(
        rows, "file_id long, simhash long, bands array<long>")


def test_mega_bucket_pairs_bounded(spark):
    cfg = DedupConfig(bucket_cap=16, neighbor_window=3)
    n = 200
    sigs = _fake_sigs(spark, n, shared_band_hash=42)
    pairs = candidate_pairs(sigs, cfg).toPandas()
    # quadratic would be n*(n-1)/2 = 19900 from the shared bucket; the
    # windowed path emits at most n*w
    assert len(pairs) <= n * cfg.neighbor_window + 50
    assert len(pairs) >= n - 1  # chain coverage: every member pairs up
    assert (pairs.src < pairs.dst).all()


def test_small_buckets_exhaustive(spark):
    cfg = DedupConfig(bucket_cap=64)
    sigs = _fake_sigs(spark, 10, shared_band_hash=7)
    pairs = candidate_pairs(sigs, cfg).toPandas()
    assert len(pairs) == 45  # all 10-choose-2 within the shared bucket


def test_grouped_rank_scalable_matches_single_window(spark):
    """The stitched range-partition rank must equal the plain grouped
    row_number exactly — including groups that straddle many range
    partitions and groups with heavy simhash ties."""
    from pyspark.sql import Window

    from sparkdedup.operators.lsh import grouped_rank_scalable

    rng = np.random.default_rng(11)
    rows = [(int(g), int(rng.integers(0, 5)), int(i))
            for g in range(4) for i in range(300)]
    df = spark.createDataFrame(rows, "g long, simhash long, file_id long")
    got = grouped_rank_scalable(df, ["g"], ["simhash", "file_id"],
                                num_partitions=16).toPandas()
    w = Window.partitionBy("g").orderBy("simhash", "file_id")
    want = df.withColumn("rn", F.row_number().over(w).cast("int")).toPandas()
    key = ["g", "simhash", "file_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert (got[key + ["rn"]].values == want[key + ["rn"]].values).all()


def test_mega_bucket_no_bucket_wide_window(spark):
    """Plan guard (r3 verdict weak #2): the mega-bucket branch must not
    contain a Window partitioned ONLY by (band, band_hash) — that spec
    gathers a whole mega-bucket into the single task that sorts it. Every
    row_number window in the plan must carry the range-partition id."""
    import re

    cfg = DedupConfig(bucket_cap=16, neighbor_window=3)
    sigs = _fake_sigs(spark, 64, shared_band_hash=42)
    plan = candidate_pairs(sigs, cfg)._jdf.queryExecution().executedPlan() \
        .toString()
    for spec in re.findall(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)",
                           plan):
        parts = spec.split(",")[:-2]  # drop the two ordering frame args
        cols = [p.strip().split("#")[0] for p in parts
                if "#" in p and " " not in p.strip().split("#")[0]]
        assert "_pid" in cols, f"bucket-wide window spec found: {spec}"


def test_grouped_rank_branches_read_materialized_rdd(spark):
    """Plan guard (r4 advice): the counts branch and the join branch both
    read `_pid`, so they must see ONE physical range partitioning. The
    operator materializes the range-partitioned frame (localCheckpoint)
    before branching — the final plan must therefore scan the pinned RDD
    and contain NO live rangepartitioning exchange that could be
    recomputed per-branch with different sampled boundaries."""
    from sparkdedup.operators.lsh import grouped_rank_scalable

    rng = np.random.default_rng(13)
    rows = [(int(g), int(rng.integers(0, 5)), int(i))
            for g in range(3) for i in range(50)]
    df = spark.createDataFrame(rows, "g long, simhash long, file_id long")
    out = grouped_rank_scalable(df, ["g"], ["simhash", "file_id"],
                                num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    assert "rangepartitioning" not in plan.lower(), (
        "live range exchange in the stitched-rank plan — branch pids may "
        f"diverge:\n{plan}")


def test_neighbor_window_orders_by_simhash(spark):
    """Members with identical simhash must still pair (adjacent ranks)."""
    cfg = DedupConfig(bucket_cap=4, neighbor_window=1)
    rows = [(i, 99, [1] + [100 + i * 16 + b for b in range(15)])
            for i in range(12)]
    sigs = spark.createDataFrame(
        rows, "file_id long, simhash long, bands array<long>")
    pairs = candidate_pairs(sigs, cfg).toPandas()
    # rank chain over 12 members with w=1 -> exactly 11 adjacent pairs
    assert len(pairs) == 11


def test_pack_next_fit_semantics(spark):
    """Next-fit contract vs a pure-python reference: bucket-local doc_id
    order, new pack iff fill + n > budget, oversize doc sits alone."""
    import pandas as pd

    rows = [  # (doc_id, bucket, n_tokens)
        (1, 0, 100), (3, 0, 400), (5, 0, 20), (7, 0, 600), (9, 0, 1),
        (2, 1, 512), (4, 1, 512), (6, 1, 1),
        (8, 2, 700),  # oversize alone
    ]
    from sparkdedup.operators.packing import pack_next_fit
    df = spark.createDataFrame(rows, "doc_id long, bucket int, n_tokens long")
    got = {r.doc_id: (r.pack_id, r.n_tokens)
           for r in pack_next_fit(df, budget=512, n_buckets=4).collect()}

    def ref(docs, budget=512):
        out, p, fill = {}, 0, None
        for d, n in docs:
            if fill is None:
                fill = n
            elif fill + n > budget:
                p += 1
                fill = n
            else:
                fill += n
            out[d] = p
        return out

    stride = 1 << 40
    for b, docs in [(0, [(1, 100), (3, 400), (5, 20), (7, 600), (9, 1)]),
                    (1, [(2, 512), (4, 512), (6, 1)]),
                    (2, [(8, 700)])]:
        expect = ref(docs)
        for d, n in docs:
            assert got[d] == (b * stride + expect[d], n), (b, d, got[d])
    # oversize doc 7 sits alone: no other doc shares its pack
    packs = {}
    for d, (pid, _) in got.items():
        packs.setdefault(pid, []).append(d)
    assert packs[0 * stride + 2] == [7]


def test_anchor_containment_candidates_window_boundary(spark):
    """Pins the anchor scheme's envelope: a containee with
    >= containment_anchor_window shingles is found (MOSS guarantee); a
    tiny containee (< w shingles) is not — the documented limit."""
    import pandas as pd

    from sparkdedup.operators.containment import anchor_containment_candidates
    from sparkdedup.operators.signatures import signature_stage

    cfg = DedupConfig()
    rng = np.random.default_rng(7)
    vocab = [f"tok{i}" for i in range(400)]
    big_tokens = [vocab[i] for i in rng.integers(0, 400, 2000)]
    small_tokens = [vocab[i] for i in rng.integers(0, 400, 40)]  # ~36 shingles
    inner = " ".join(big_tokens[500:1000])          # >= w-shingle containee
    host = " ".join(big_tokens[:500]) + " " + inner + " " + \
        " ".join(big_tokens[1000:])
    tiny = " ".join(small_tokens)
    host2 = " ".join(big_tokens[1200:1350]) + " " + tiny + " " + \
        " ".join(big_tokens[200:350])
    pdf = pd.DataFrame({
        "repo": ["r"] * 4, "path": ["inner", "host", "tiny", "host2"],
        "commit": ["c"] * 4, "lang": ["py"] * 4,
        "content": [inner, host, tiny, host2],
    })
    sigs = signature_stage(spark.createDataFrame(pdf), cfg).cache()
    ids = {r["path"]: r["file_id"]
           for r in sigs.select("path", "file_id").collect()}

    anchor_pairs = {(r["src"], r["dst"])
                    for r in anchor_containment_candidates(sigs, cfg).collect()}
    assert (ids["inner"], ids["host"]) in anchor_pairs
    # the tiny containee is below the anchor window: not found
    assert (ids["tiny"], ids["host2"]) not in anchor_pairs
