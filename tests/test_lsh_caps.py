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


@pytest.mark.parametrize("probe_only", [False, True])
def test_winnowed_gram_index_matches_per_doc_reference(spark, probe_only):
    """The batched winnowing kernel emits exactly the rows of the
    per-document sliding-window algorithm (inlined below): distinct
    w-window minima of each doc's anch-byte-gram hashes, or one probe =
    min of its first w gram hashes; docs with < w grams emit nothing."""
    import pandas as pd

    from sparkdedup.functions.murmur3 import murmur3_128_bytes
    from sparkdedup.operators.containment import winnowed_gram_index

    anch, w = 24, 16
    rng = np.random.default_rng(11)
    alphabet = list("ab c\n_{}") + ["é", "中"]
    texts = [None, "", "x" * (anch + w - 2), "y" * (anch + w - 1),
             "é" * 20, "中文" * 10]
    texts += ["".join(rng.choice(alphabet, int(n)))
              for n in rng.integers(0, 200, 40)]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                        "text": pd.Series(texts, dtype=object)})

    expected = []
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        data = text.encode("utf-8") if isinstance(text, str) else b""
        n_grams = len(data) - anch + 1
        if n_grams < w:
            continue
        h, _ = murmur3_128_bytes(
            [data[i:i + anch] for i in range(n_grams)], 9001)
        if probe_only:
            sel = [h[:w].min()]
        else:
            sel = np.unique(
                np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1))
        expected += [(int(doc_id), int(g)) for g in
                     np.asarray(sel, dtype=np.uint64).astype(np.int64)]

    docs = spark.createDataFrame(pdf, "doc_id long, text string") \
        .repartition(3)
    got = [(r["doc_id"], r["gh"]) for r in winnowed_gram_index(
        docs, "doc_id", "text", anch, w, probe_only=probe_only).collect()]
    assert expected and sorted(got) == sorted(expected)


def _reference_pairs(rows, cap, w):
    """The documented candidate semantics in plain Python: a bucket is
    every (band, band_hash); up to `cap` members pair exhaustively, more
    pair each member with its w successors in (simhash, file_id) order;
    src < dst, self pairs dropped."""
    import itertools

    buckets = {}
    for fid, sim, bands in rows:
        for band, h in enumerate(bands):
            buckets.setdefault((band, h), []).append((sim, fid))
    out = set()
    for members in buckets.values():
        ids = [fid for _, fid in sorted(members)]
        if len(ids) <= cap:
            cand = itertools.combinations(ids, 2)
        else:
            cand = ((ids[i], ids[i + d]) for i in range(len(ids))
                    for d in range(1, w + 1) if i + d < len(ids))
        out |= {(min(a, b), max(a, b)) for a, b in cand if a != b}
    return out


def _random_sigs(rng, cap):
    """Few bands over a handful of shared hashes (buckets of every size,
    many straddling range partitions), simhash ties everywhere, and one
    bucket of exactly cap + 1 members."""
    n = int(rng.integers(60, 400))
    nb = int(rng.integers(1, 4))
    shared = rng.integers(0, 4, size=(n, nb))
    unique = rng.integers(10, 2**40, size=(n, nb))
    bands = np.where(rng.random((n, nb)) < 0.7, shared, unique)
    bands[:, 0] = np.where(np.arange(n) < cap + 1, -5, bands[:, 0])
    return [(int(i * 7 + 3), int(rng.integers(0, 3)),
             [int(x) for x in bands[i]]) for i in range(n)]


@pytest.fixture
def shuffle_conf(spark):
    """Sets session confs for one test and restores them after."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        spark.conf.set(key, value)


@pytest.mark.parametrize("coalesce", ["true", "false"])
@pytest.mark.parametrize("parts", [1, 3, 16])
def test_candidate_pairs_match_reference(spark, shuffle_conf, parts,
                                         coalesce):
    """candidate_pairs equals the reference semantics whatever the range
    partitioning cuts: random caps 2-40 and windows 1-6, buckets that
    straddle partitions, heavy simhash ties, AQE coalescing on and off."""
    shuffle_conf("spark.sql.shuffle.partitions", str(parts))
    shuffle_conf("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
    rng = np.random.default_rng(parts * 2 + (coalesce == "true"))
    for _ in range(3):
        cap, w = int(rng.integers(2, 41)), int(rng.integers(1, 7))
        rows = _random_sigs(rng, cap)
        sigs = spark.createDataFrame(
            rows, "file_id long, simhash long, bands array<long>")
        got = {(r.src, r.dst) for r in candidate_pairs(
            sigs, DedupConfig(bucket_cap=cap, neighbor_window=w)).collect()}
        assert got == _reference_pairs(rows, cap, w), (cap, w, len(rows))


def test_candidate_pairs_runs_no_job(spark):
    """candidate_pairs only builds a plan: the range exchange samples its
    boundaries when the plan runs, not when it is made."""
    sigs = _fake_sigs(spark, 50, shared_band_hash=42)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    candidate_pairs(sigs, DedupConfig(bucket_cap=4, neighbor_window=2))
    assert set(tracker.getJobIdsForGroup()) == before


def test_mega_bucket_fragments_bounded(spark, shuffle_conf):
    """One 10,000-member bucket over 16 range partitions: every partition
    holds a fragment, no fragment carries more than max(cap, 2w) rows to
    the stitch exchange, and the stitched pairs are exactly the window
    chain."""
    from sparkdedup.operators.lsh import tagged_runs

    shuffle_conf("spark.sql.shuffle.partitions", "16")
    shuffle_conf("spark.sql.adaptive.coalescePartitions.enabled", "false")
    n, cfg = 10_000, DedupConfig(bucket_cap=30, neighbor_window=4)
    rng = np.random.default_rng(3)
    rows = [(i, int(rng.integers(0, 50)), [42]) for i in range(n)]
    sigs = spark.createDataFrame(
        rows, "file_id long, simhash long, bands array<long>").cache()
    frags = (tagged_runs(sigs, cfg).filter(F.col("dst").isNull())
             .groupBy("pid").count().collect())
    assert len(frags) == 16
    bound = max(cfg.bucket_cap, 2 * cfg.neighbor_window)
    assert max(r["count"] for r in frags) <= bound
    w = cfg.neighbor_window
    assert candidate_pairs(sigs, cfg).count() == n * w - w * (w + 1) // 2
    sigs.unpersist()


def test_candidate_pairs_plan_one_range_exchange(spark):
    """Plan guard: one range exchange, and no Window, cartesian product
    or nested-loop join anywhere in the candidate plan."""
    sigs = _fake_sigs(spark, 64, shared_band_hash=42)
    plan = candidate_pairs(sigs, DedupConfig())._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("rangepartitioning") == 1, plan
    for op in ("Window", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, plan
