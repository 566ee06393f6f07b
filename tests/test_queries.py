"""Driver-contract queries vs DuckDB oracles (local replica of the
correctness gate, at sf0.001 for speed) + sketch built-in coverage."""

import hashlib

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.astype(str)
        elif "float" in str(s.dtype):
            df[c] = s.round(6)
        elif "datetime" in str(s.dtype):
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _hash(df):
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def all_query_names():
    from sparkdedup.queries import ORACLES

    return sorted(ORACLES)


@pytest.mark.parametrize("name", all_query_names())
def test_query_matches_oracle(spark, duck, name):
    from sparkdedup.queries import ORACLES, QUERIES

    sdf = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    odf = _normalize(duck.execute(ORACLES[name]).df())
    assert list(sdf.columns) == list(odf.columns), (list(sdf.columns),
                                                    list(odf.columns))
    assert len(sdf) == len(odf)
    assert _hash(sdf) == _hash(odf), f"value hash mismatch for {name}"


def test_catalog_rotation_window():
    """The catalog no longer rotates entries through a 50-row gate
    window, so no query can go unchecked for a round: every catalog
    query has an oracle, and every oracle names a catalog query."""
    from sparkdedup.queries import ORACLES, QUERIES

    assert set(ORACLES) == set(QUERIES)


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert set(entry_mod.oracle_sql()) <= set(entry_mod.queries())


def test_hll_accuracy_vs_exact(spark):
    """HLL built-in (DataSketches-compatible) within 5% of exact counts."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = (ev.groupBy("event_type")
           .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("a"),
                F.countDistinct("user_id").alias("e"))).toPandas()
    assert ((got["a"] - got["e"]).abs() / got["e"].clip(lower=1) < 0.05).all()


def test_bloom_filter_operator(spark):
    """DataFrame-native bloom (reference filters/): no false negatives,
    bounded false-positive rate."""
    from sparkdedup.operators.membership import (bloom_build,
                                                 bloom_might_contain)

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    keys = df.select("o_custkey").distinct()
    n = keys.count()
    bloom = bloom_build(keys, "o_custkey", n, fpp=0.01).cache()
    # members: all contained
    res = bloom_might_contain(bloom, keys, "o_custkey").toPandas()
    assert res["might_contain"].all()
    # non-members: fpp bounded (generous 5x margin on 0.01)
    probes = spark.range(1_000_000, 1_002_000).withColumnRenamed(
        "id", "o_custkey")
    neg = bloom_might_contain(bloom, probes, "o_custkey").toPandas()
    assert neg["might_contain"].mean() < 0.05


def test_cosine_pairs_blocked_matches_brute(spark):
    """Blocked-GEMM all-pairs cosine == the expression-tree brute force,
    across a multi-block grid (exactness incl. cross-block id order)."""
    from sparkdedup.operators.similarity import cosine_pairs_blocked

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = (cosine_pairs_blocked(emb, threshold=0.3, n_blocks=4)
           .toPandas().sort_values(["src", "dst"]).reset_index(drop=True))
    norm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    base = emb.select("vec_id", "embedding", norm.alias("nrm"))
    a = base.select(F.col("vec_id").alias("src"),
                    F.col("embedding").alias("va"), F.col("nrm").alias("na"))
    b = base.select(F.col("vec_id").alias("dst"),
                    F.col("embedding").alias("vb"), F.col("nrm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    want = (a.crossJoin(b).filter(F.col("src") < F.col("dst"))
            .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
            .filter(F.col("cosine") >= 0.3).select("src", "dst", "cosine")
            .toPandas().sort_values(["src", "dst"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)


def test_ngram_posting_cap_lossless_here(spark):
    """The hot-gram posting cap used for candidate generation does not drop
    any qualifying pair at test scale (max gram df << cap), so the capped
    query equals the exact uncapped answer — asserted via the oracle test
    above; here we just confirm the cap is actually above the observed max
    df (i.e. the guard is dormant, not silently lossy)."""
    from sparkdedup.queries import _word_gram_inv
    inv = _word_gram_inv(spark, SF_DIR)
    max_df = (inv.groupBy("gh").count()
              .agg(F.max("count").alias("m")).first()["m"])
    assert max_df <= 64, f"posting cap 64 would be lossy here (max df={max_df})"


def test_count_min_operator(spark):
    """DataFrame-native count-min (reference count/): never underestimates,
    eps*N overestimate bound."""
    from sparkdedup.operators.membership import (count_min_build,
                                                 count_min_estimate)

    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cms = count_min_build(df, "o_orderpriority", eps=0.01).cache()
    exact = df.groupBy("o_orderpriority").count().toPandas()
    probes = df.select("o_orderpriority").distinct()
    est = count_min_estimate(cms, probes, "o_orderpriority").toPandas()
    merged = exact.merge(est, on="o_orderpriority")
    n_total = df.count()
    assert (merged["estimate"] >= merged["count"]).all()
    assert (merged["estimate"] <= merged["count"] + 0.01 * n_total + 1).all()


def test_kmv_distinct_agg_accuracy(spark):
    """Distributed KMV aggregate within 6% of exact distinct counts."""
    from sparkdedup.operators.kmv_agg import kmv_distinct_agg

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"[ \t\n\f\r]+")).alias("token"))
    est = kmv_distinct_agg(toks.repartition(8), "source", "token",
                           k=256).toPandas()
    exact = (toks.groupBy("source")
             .agg(F.countDistinct("token").alias("exact"))).toPandas()
    m = est.merge(exact, on="source")
    assert len(m) == len(exact)
    rel = (m["n_distinct_est"] - m["exact"]).abs() / m["exact"].clip(lower=1)
    assert (rel < 0.06).all(), m[rel >= 0.06]


def test_kmv_distinct_agg_array_of_longs(spark):
    """Array-typed values take any element type: array<long> cells hash
    their decimal strings, so they estimate exactly as the same cells
    cast to array<string> do."""
    from sparkdedup.operators.kmv_agg import kmv_distinct_agg

    df = spark.range(0, 3000, numPartitions=4).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.array(F.col("id") % 700, F.col("id") % 50 + 10_000).alias("v"))
    longs = kmv_distinct_agg(df, "g", "v", k=256).toPandas()
    strs = kmv_distinct_agg(
        df.select("g", F.col("v").cast("array<string>").alias("v")),
        "g", "v", k=256).toPandas()
    longs, strs = (x.sort_values("g").reset_index(drop=True)
                   for x in (longs, strs))
    pd.testing.assert_frame_equal(longs, strs)
    # 700 residues mod 700 plus 50 offset ones per group, none shared
    exact = df.groupBy("g").agg(F.size(F.array_distinct(F.flatten(
        F.collect_list("v")))).alias("exact")).toPandas()
    m = longs.merge(exact, on="g")
    assert len(m) == 3
    rel = (m["n_distinct_est"] - m["exact"]).abs() / m["exact"]
    assert (rel < 0.1).all(), m


def test_doc_candidate_pairs_are_doc_ids(spark):
    """The catalog's LSH queries key signatures by doc id (the path
    _docs_as_files writes, cast back), so candidate pairs come out as
    distinct (src < dst) doc ids with no remap: identical texts always
    share every band."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.lsh import candidate_pairs
    from sparkdedup.queries import _doc_signatures, _docs_as_files

    words = [" ".join(f"w{i}_{j}" for j in range(40)) for i in range(3)]
    docs = spark.createDataFrame(
        [(10, "py", words[0]), (3, "py", words[1]), (7, "py", words[0]),
         (42, "py", words[1]), (5, "py", words[2])],
        "doc_id long, lang string, text string")
    sigs = _doc_signatures(_docs_as_files(docs), DedupConfig()).cache()
    pairs = {(r["src"], r["dst"])
             for r in candidate_pairs(sigs, DedupConfig()).collect()}
    assert pairs == {(3, 42), (7, 10)}
