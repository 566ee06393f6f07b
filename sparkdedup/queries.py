"""Query catalog for the driver contract (__spark_entry__.py).

Each entry: a Spark-first implementation (spark, sf_dir) -> DataFrame and
a DuckDB oracle string over the same parquet views. Column names/types
are aligned pairwise (the correctness gate hashes values after sorting
columns by name).

Every one of the 39 queries calls a sparkdedup module (operators/,
functions/, streaming/) or emits dedup groups, pairs or clusters, and
every query has an oracle. QUERIES and ORACLES list them by family:
  near-dup and exact dedup: md5 groups, clusters via our CC operator,
         word-3-gram Jaccard pairs, MinHash/LSH pairs (batch and
         incremental), LSH->verify->CC clusters and representatives,
         SimHash pairs, winnowed substring containment, 20-word chunk
         dedup, benchmark decontamination;
  embedding similarity: blocked GEMM cosine top-k, near-dup pairs and
         clusters, LSH- and IVF-bucketed lookups;
  curation: the composite verdict, PII scrub, sequence packing,
         stratified sampling, KLL-driven length buckets;
  quantile sketches (operators/quantile_agg.py): KLL build/merge and
         rank/CDF readers, REQ (HRA and LRA), t-digest;
  distinct, membership and frequency sketches: KMV/theta, tuple, bloom,
         count-min;
  sampling: deterministic reservoir, VarOpt (tau + systematic IPPS draw),
         reservoir UNION with per-source implicit weights;
  streaming: watermarked tumbling-window rollup, first-seen dedup, the
         stateful heavy-hitter operator and chunk dedup, each drained via
         AvailableNow and hash-matched against its batch oracle;
  as-of join: last view before each purchase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _table_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata — no Spark job.

    The r3 plans that needed a size (bloom sizing, GEMM tile-grid sizing)
    ran df.count() first: cheap at sf0.1 but still a full driver-blocking
    scan-job barrier before the real plan at 100 TB. Footer num_rows is
    exact, already materialized by every writer, and reading it is O(files)
    metadata I/O — the same source catalog stats come from. Handles both a
    single parquet file and a directory of part files."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def _dataset_key(sf_dir: str, name: str) -> str:
    """Dataset identity for cross-invocation model memos (IVF codebook):
    absolute path + file mtime, so regenerated test data invalidates the
    cache while repeated invocations over the same files hit it. At
    cluster scale the analogous key is the table snapshot id."""
    import os

    path = os.path.abspath(f"{sf_dir}/{name}.parquet")
    return f"{path}:{os.stat(path).st_mtime_ns}"


def _fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition ONLY when the scan has fewer input files than cores.

    A single-file/single-row-group parquet input reads as ONE partition
    (NOTES.md gotcha), which serializes every downstream per-doc kernel.
    On a properly laid-out table (more files than cores) this is a no-op —
    the plan keeps the scan's natural splits and no shuffle is added.

    The signal is len(df.inputFiles()) — pure scan metadata, no job. The
    old df.rdd.getNumPartitions() probe built the whole DataFrame->RDD
    conversion per call just to count splits. Trade-off: a few huge
    multi-row-group files would repartition unnecessarily (harmless — the
    exchange is one narrow round-robin of already-split data)."""
    dp = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0  # non-file source: assume it needs the fan-out
    if n_files < dp:
        return df.repartition(dp)
    return df


_CKPT_ROOT: list[str] = []


def _stream_ckpt(name: str) -> str:
    """Checkpoint dir for a gate streaming query — bounded /tmp footprint.

    r3 mkdtemp'd a FRESH dir per invocation and never removed it: a disk
    leak when the gate or bench is poll-looped. Now one root per process
    (removed atexit) holds one subdir per query name, and the subdir is
    CLEARED before each start — mandatory, not just hygiene: a retained
    checkpoint stores committed source offsets, so a reused dir would
    silently skip all data on the next AvailableNow drain."""
    import atexit
    import shutil
    import tempfile

    if not _CKPT_ROOT:
        root = tempfile.mkdtemp(prefix="sd_stream_ckpt_")
        _CKPT_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    path = f"{_CKPT_ROOT[0]}/{name}"
    shutil.rmtree(path, ignore_errors=True)
    return path


def _drain_memory_sink(spark, name: str):
    """Return the drained memory sink as a DataFrame and drop its
    catalog entry.

    A memory sink's temp view is registered for the SESSION's lifetime
    and pins the sink's materialized rows; the DataFrame built here
    resolves the view eagerly (the analyzed plan holds the sink relation
    directly), so dropping the view right away costs nothing for the
    caller but lets the rows be GC'd as soon as the returned frame is
    released. Without this every invocation leaked one result-sized
    in-memory table until session end — the gate/bench run 4+ rounds of
    4 streaming queries in one session (r7 storage hygiene).

    Classic PySpark only: under Spark Connect spark.table() resolves
    lazily, so the returned frame would fail with TABLE_OR_VIEW_NOT_FOUND
    once the view is dropped."""
    df = spark.table(name)
    spark.catalog.dropTempView(name)
    return df


# --------------------------------------------------------------------------
# dedup family
# --------------------------------------------------------------------------

def q_exact_dedup_docs(spark, sf_dir):
    """Exact dedup groups over documents: hash-groupBy (map-side partial
    agg; one shuffle on the 32-hex key)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("rep_doc_id"),
             F.count("*").alias("n_copies"))
    )


SQL_EXACT_DEDUP_DOCS = """
SELECT md5(text) AS text_hash,
       min(doc_id) AS rep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_dedup_clusters_docs(spark, sf_dir):
    """Exact-duplicate clusters via OUR connected-components operator,
    oracle-checked against a window-min (the CC fixpoint on star graphs
    equals min-per-group)."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.components import connected_components

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"), F.md5("text").alias("h"))
    reps = docs.groupBy("h").agg(F.min("file_id").alias("rep"))
    edges = (docs.join(reps, "h")
             .filter(F.col("file_id") != F.col("rep"))
             .select(F.col("rep").alias("src"), F.col("file_id").alias("dst")))
    clusters, _ = connected_components(
        edges, docs.select("file_id"), DedupConfig())
    return clusters.select(F.col("file_id").alias("doc_id"),
                           F.col("cluster_id"))


SQL_DEDUP_CLUSTERS_DOCS = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id
FROM documents
"""


def _word_gram_inv(spark, sf_dir,
                   only_docs: DataFrame | None = None) -> DataFrame:
    """(doc_id, gh) distinct word-3-gram hashes per document via the numpy
    kernel (functions/tokenize.py::word_gram_hashes_batch) — hash-gram
    identity equals string-gram identity (property-tested), and only
    skinny longs leave the scan.

    only_docs: optional (doc_id) frame — restrict the kernel to those
    documents via a broadcast semi-join BEFORE any text leaves the scan.
    The LSH verify path only ever reads grams of candidate-pair members
    (a few % of the corpus), so tokenizing everything was pure waste
    (guide §2.3: don't compute what you throw away); the broadcast is
    bounded by the candidate-pair count, the same contract as the
    decontamination gram dictionary."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    docs = _read(spark, sf_dir, "documents")
    if only_docs is not None:
        docs = docs.join(F.broadcast(only_docs.select("doc_id").distinct()),
                         "doc_id", "left_semi")

    def gram_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sparkdedup.functions.tokenize import word_gram_hashes_batch
        for pdf in batches:
            if not len(pdf):
                continue
            gh, seg = word_gram_hashes_batch(pdf["text"], 3)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[seg],
                "gh": gh.astype(np.int64)})

    return (_fan_out(docs.select("doc_id", "text"), spark)
            .mapInPandas(gram_kernel, schema="doc_id long, gh long"))


def _jaccard_from_counts(inter: DataFrame, sizes: DataFrame,
                        tau: float) -> DataFrame:
    """(src, dst, jaccard) pairs with jaccard >= tau, from the pair
    intersection counts (src, dst, inter) and the per-doc set sizes
    (doc_id, n); jaccard is rounded to 6 places like the oracles."""
    na = sizes.select(F.col("doc_id").alias("src"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("dst"), F.col("n").alias("nb"))
    return (
        inter.join(na, "src").join(nb, "dst")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= tau)
        .select("src", "dst", "jaccard"))


def _exact_jaccard_on_pairs(cand: DataFrame, inv: DataFrame,
                            threshold: float) -> DataFrame:
    """Exact Jaccard verification of (src, dst) candidate pairs from the
    (doc_id, gh) distinct-gram-hash table: |A∩B| as a COUNT over skinny
    equi-joins restricted to candidate docs — no gram arrays ever join
    (the array/HOF formulation also trips a flaky Spark 4.1 codegen bug
    on self-joined scans, see operators/containment.py)."""
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("n"))
    inv_a = inv.select(F.col("doc_id").alias("src"), "gh")
    inv_b = inv.select(F.col("doc_id").alias("dst"), "gh")
    a_c = inv_a.join(cand.select("src").distinct(), "src", "left_semi")
    b_c = inv_b.join(cand.select("dst").distinct(), "dst", "left_semi")
    inter = (cand.join(a_c, "src").join(b_c, ["dst", "gh"])
             .groupBy("src", "dst").agg(F.count("*").alias("inter")))
    return _jaccard_from_counts(inter, sizes, threshold)


def q_ngram_jaccard_pairs(spark, sf_dir):
    """3-gram (word) Jaccard near-dup pairs >= 0.2 over non-boilerplate
    grams: inverted-index self-join computes |A∩B| as a COUNT (skinny
    rows, no gram-array shipping), sizes and intersection both restricted
    to grams with df <= cap.

    Skew guard (same reasoning as operators/containment.py:33): a gram in
    f docs contributes O(f^2) join rows, so grams hotter than the cap —
    boilerplate by definition — are excluded from BOTH the sizes and the
    intersection, keeping the join bounded at O(cap^2) per gram while the
    jaccard stays self-consistent ("similarity over distinctive grams").
    At the oracle scale the cap is dormant (max df 25 << 64, asserted in
    tests), so the result equals the exact uncapped jaccard. Grams are
    never materialized as strings: a numpy kernel emits each doc's
    DISTINCT 3-gram hashes directly (byte-level word spans -> dedup word
    hashing -> sliding-window murmur — functions/tokenize.py::
    word_gram_hashes_batch), so only skinny (doc_id, gh) longs ever leave
    the scan."""
    posting_cap = 64
    # localCheckpoint, not cache: same single materialization of the gram
    # kernel for the 3 consumers below, but the blocks are released by the
    # ContextCleaner after the query is dropped instead of leaking one
    # CacheManager entry per invocation
    inv = _word_gram_inv(spark, sf_dir).localCheckpoint(eager=False)
    df_counts = inv.groupBy("gh").agg(F.count("*").alias("df"))
    cold = inv.join(df_counts.filter(F.col("df") <= posting_cap), "gh")
    sizes = cold.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = cold.select("gh", F.col("doc_id").alias("src"))
    b = cold.select("gh", F.col("doc_id").alias("dst"))
    inter = (a.join(b, "gh").filter(F.col("src") < F.col("dst"))
             .groupBy("src", "dst").agg(F.count("*").alias("inter")))
    return _jaccard_from_counts(inter, sizes, 0.2)


# the oracle applies the SAME df <= 64 posting cap as the Spark plan
# (sizes AND intersection over "cold" grams only), so the two compute the
# identical "similarity over distinctive grams" quantity at ANY scale —
# at this data scale the cap is dormant (max df << 64, asserted in tests)
SQL_NGRAM_JACCARD_PAIRS = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(w) - 2 + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS g
  FROM words WHERE len(w) >= 3
), inv AS (
  SELECT doc_id, unnest(g) AS gram FROM grams
), dfc AS (
  SELECT gram FROM inv GROUP BY 1 HAVING count(*) <= 64
), cold AS (
  SELECT i.doc_id, i.gram FROM inv i JOIN dfc USING (gram)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM cold GROUP BY 1
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM cold a JOIN cold b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst,
       round(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = src
JOIN sizes nb ON nb.doc_id = dst
WHERE round(inter * 1.0 / (na.n + nb.n - inter), 6) >= 0.2
"""


def q_decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination: flag corpus documents whose distinct
    word-3-gram overlap with a held-out benchmark split (deterministic
    ``doc_id % 13 == 0``) is >= 10% of their grams — the standard
    n-gram-overlap decontamination pass an LLM training pipeline runs
    against eval sets before training (reference has no analog; this is
    a training-data-pipeline first-class op).

    Scale shape: the benchmark gram dictionary is DISTINCT'd and
    broadcast — eval benchmarks are tiny relative to a 100-TB corpus
    (~1e7 grams ~ 80 MB for a 1e5-doc suite), so the corpus-side
    inverted index never shuffles: one scan -> gram kernel -> broadcast
    hash semi-join -> per-doc count. The per-doc gram totals reuse the
    same skinny (doc_id, gh) longs; no gram strings ever leave the scan
    (functions/tokenize.py::word_gram_hashes_batch, hash-gram identity
    property-tested against string grams)."""
    inv = _word_gram_inv(spark, sf_dir).localCheckpoint(eager=False)
    is_bench = F.col("doc_id") % 13 == 0
    bench_grams = inv.filter(is_bench).select("gh").distinct()
    corpus = inv.filter(~is_bench)
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (corpus.join(F.broadcast(bench_grams), "gh")
            .groupBy("doc_id").agg(F.count("*").alias("shared_grams")))
    return (
        hits.join(sizes, "doc_id")
        .withColumn("contaminated_frac", F.round(
            F.col("shared_grams") / F.col("n_grams"), 6))
        .filter(F.col("contaminated_frac") >= 0.1)
        .select("doc_id", "shared_grams", "n_grams", "contaminated_frac")
    )


# same integer counts in both engines; the ratio divides identical ints
# and round(.,6) matches (the ngram_jaccard gate's established pattern)
SQL_DECONTAMINATE_DOCS = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(w) - 2 + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS g
  FROM words WHERE len(w) >= 3
), inv AS (
  SELECT doc_id, unnest(g) AS gram FROM grams
), bench AS (
  SELECT DISTINCT gram FROM inv WHERE doc_id % 13 = 0
), corpus AS (
  SELECT doc_id, gram FROM inv WHERE doc_id % 13 <> 0
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1
), hits AS (
  SELECT c.doc_id, count(*) AS shared_grams
  FROM corpus c JOIN bench USING (gram) GROUP BY 1
)
SELECT h.doc_id, shared_grams, n_grams,
       round(shared_grams * 1.0 / n_grams, 6) AS contaminated_frac
FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
WHERE round(shared_grams * 1.0 / n_grams, 6) >= 0.1
"""


def q_substr_containment_docs(spark, sf_dir):
    """Exact substring containment: shorter doc pasted inside longer doc.

    Scale plan — winnowed anchor index (MOSS-style, exact recall):
    instead of indexing EVERY 24-char gram of every container (w=1
    winnowing, O(chars) index rows), the container side keeps only window
    minima: position i is selected iff its gram hash is the minimum of
    some w-window containing it (the pipeline's O(n) window minima,
    operators/signatures.py::_anchors_and_probes) — expected 2/(w+1)
    density, a ~w/2 x smaller index and join. The containee side needs
    exactly ONE probe: the argmin gram among its first w grams.
    Guarantee: if ta occurs in tb at offset o and has >= w grams, ta's
    argmin over grams [1..w] IS tb's window minimum of [o..o+w-1], which
    the selection keeps — so the candidate join has perfect recall
    (64-bit hash ties are the only caveat, ~w^2/2^64 per window).
    Verification is exact (instr), so false positives are free. Docs
    with fewer than ANCH+W-1 chars go through the (tiny) brute branch."""
    ANCH, W = 24, 16
    # independent scans per side: deriving both from one DataFrame trips a
    # Catalyst attribute-resolution INTERNAL_ERROR on the self-join over
    # the windowed posexplode (Spark 4.1)
    a = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("src"), F.col("text").alias("ta"))
    b = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("dst"), F.col("text").alias("tb"))
    min_len = ANCH + W - 1

    # container side: winnowed gram index (operators/containment.py) —
    # (dst, gh) skinny rows, ~2/(W+1) of all gram positions; text is
    # re-joined for verification, never shuffled with the index
    from sparkdedup.operators.containment import winnowed_gram_index

    docs_b = _fan_out(_read(spark, sf_dir, "documents"), spark)
    sel = winnowed_gram_index(docs_b, "doc_id", "text", ANCH, W) \
        .withColumnRenamed("doc_id", "dst")

    # containee side: ONE probe per doc — min gram hash of the first W
    probe_ids = winnowed_gram_index(docs_b, "doc_id", "text", ANCH, W,
                                    probe_only=True) \
        .withColumnRenamed("doc_id", "src")
    probe = probe_ids.join(a, "src")

    cand = (probe.join(sel, "gh")
            .select("src", "ta", "dst").distinct()
            .join(b, "dst")
            .filter((F.col("src") != F.col("dst"))
                    & (F.length("ta") < F.length("tb"))))
    verified = cand.filter(F.instr(F.col("tb"), F.col("ta")) > 0)

    # docs too short for the anchor index (< 39 chars): the r3 plan ran an
    # UNBOUNDED BroadcastNestedLoopJoin (every short doc x the corpus). The
    # non-equi probe is unavoidable for substring semantics, but its left
    # side is now bounded: dedup to DISTINCT short texts first (tiny docs
    # are overwhelmingly boilerplate stubs — empty files, license headers —
    # so the distinct set is small and broadcastable where the doc set is
    # not), run ONE corpus pass against that deduped broadcast side, then
    # fan hits back out to every source doc by a text equi-join. Exact
    # recall is unchanged; the BNLJ cost drops from O(|short docs| x corpus)
    # to O(|distinct short texts| x corpus).
    short_a = a.filter(F.length("ta") < min_len)
    short_texts = short_a.select("ta").distinct()
    brute_hits = (F.broadcast(short_texts)
                  .join(b, (F.length("ta") < F.length("tb"))
                        & (F.instr(F.col("tb"), F.col("ta")) > 0))
                  .select("ta", "dst"))
    brute = brute_hits.join(short_a, "ta").select("src", "dst")
    return verified.select("src", "dst").unionByName(brute).distinct()


SQL_SUBSTR_CONTAINMENT_DOCS = """
SELECT a.doc_id AS src, b.doc_id AS dst
FROM documents a, documents b
WHERE a.doc_id <> b.doc_id
  AND length(a.text) < length(b.text)
  AND strpos(b.text, a.text) > 0
"""


def _docs_as_files(docs: DataFrame) -> DataFrame:
    """The documents table in the files schema signature_stage reads:
    repo 'docs', path str(doc_id), commit '0'. _doc_signatures casts the
    path back to doc_id."""
    return docs.select(
        F.lit("docs").alias("repo"),
        F.col("doc_id").cast("string").alias("path"),
        F.lit("0").alias("commit"),
        F.col("lang"), F.col("text").alias("content"))


def _doc_signatures(files: DataFrame, cfg) -> DataFrame:
    """signature_stage over _docs_as_files rows, keyed by doc id: file_id
    is the path cast back to doc_id, so LSH candidate pairs come out as
    (src < dst) doc ids."""
    from sparkdedup.operators.signatures import signature_stage

    return signature_stage(files, cfg).withColumn(
        "file_id", F.col("path").cast("long"))


def _verify_doc_pairs(spark, sf_dir, cands: DataFrame,
                      tau: float) -> DataFrame:
    """Exact word-3-gram Jaccard verify of distinct (src < dst) doc-id
    candidate pairs at tau, on candidate members only."""
    # the verify stage scans the candidate table three times (src semi,
    # dst semi, intersection join); pin the tiny pair set once so the
    # signature+banding subtree is computed exactly once per query
    cand_docs = cands.localCheckpoint(eager=False)
    # gram-verify only candidate-pair members: the kernel tokenizes a few
    # percent of the corpus instead of all of it (identical output — the
    # verify step never reads any other doc's grams)
    cand_ids = (cand_docs.select(F.col("src").alias("doc_id"))
                .unionByName(cand_docs.select(F.col("dst").alias("doc_id"))))
    inv = _word_gram_inv(spark, sf_dir, only_docs=cand_ids)
    return _exact_jaccard_on_pairs(cand_docs, inv, tau)


def q_minhash_lsh_docs(spark, sf_dir):
    """LSH-accelerated near-dup pairs: MinHash-128 signatures -> 16x8
    banding -> candidate pairs (the sub-quadratic pruner), then EXACT
    word-3-gram Jaccard verification at tau=0.5 on candidates only.

    The production pipeline (pipeline.py) verifies with the KMV-Jaccard
    sketch estimate instead (no content re-join); here the final verify is
    exact so the output is the true pair set — which makes it DuckDB
    oracle-checkable while still exercising the full murmur3 signature +
    LSH machinery (banding recall at tau=0.5 is asserted in
    tests/test_pipeline_e2e.py)."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.lsh import candidate_pairs

    cfg = DedupConfig(jaccard_threshold=0.5)
    docs = _read(spark, sf_dir, "documents")
    # pinned: candidate_pairs' range exchange reads its input twice
    sigs = _doc_signatures(_fan_out(_docs_as_files(docs), spark),
                           cfg).localCheckpoint(eager=False)
    return _verify_doc_pairs(spark, sf_dir, candidate_pairs(sigs, cfg), 0.5)


SQL_MINHASH_LSH_DOCS = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(w) - 2 + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS g
  FROM words WHERE len(w) >= 3
), sized AS (
  SELECT doc_id, g, len(g) AS n FROM grams
), inv AS (
  SELECT doc_id, unnest(g) AS gram FROM sized
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM inv a JOIN inv b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst,
       round(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM inter
JOIN sized na ON na.doc_id = src
JOIN sized nb ON nb.doc_id = dst
WHERE round(inter * 1.0 / (na.n + nb.n - inter), 6) >= 0.5
"""


def q_incremental_neardup_docs(spark, sf_dir):
    """INCREMENTAL near-dup detection: a new DELTA batch (docs with
    doc_id % 7 == 0 — a deterministic stand-in for today's crawl) checked
    against the standing corpus (the rest) via
    operators/lsh.py::incremental_candidate_pairs — the delta band table
    broadcasts, the corpus side never shuffles, corpus-corpus pairs are
    skipped by construction — then exact word-3-gram Jaccard verification
    at tau=0.5 on candidates only.

    At 100 TB this is the shape of every ingest tick: corpus signatures
    come from the persisted signature checkpoint; only the delta is
    shingled fresh. Here both sides run through signature_stage in one
    scan (the split is a filter on the same signatures frame, so the
    kernel runs once) — the plan's defining property, a broadcast band
    join with no corpus-side shuffle, is guarded in test_plans.py."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.lsh import incremental_candidate_pairs

    cfg = DedupConfig(jaccard_threshold=0.5)
    docs = _read(spark, sf_dir, "documents")
    files = _docs_as_files(docs)
    is_delta = F.col("path").cast("long") % 7 == 0
    # the two sides are shingled SEPARATELY — the real ingest shape: the
    # corpus signature scan runs once (from the persisted checkpoint at
    # cluster scale), and only the small delta is re-scanned for its
    # broadcast band table (a filter-split of one shared signatures frame
    # would re-run the full kernel over ALL docs once per consumer)
    delta_sigs = _doc_signatures(_fan_out(files.filter(is_delta), spark),
                                 cfg)
    corpus_sigs = _doc_signatures(_fan_out(files.filter(~is_delta), spark),
                                  cfg)
    cands = incremental_candidate_pairs(corpus_sigs, delta_sigs)
    return _verify_doc_pairs(spark, sf_dir, cands, 0.5)


SQL_INCREMENTAL_NEARDUP_DOCS = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(w) - 2 + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS g
  FROM words WHERE len(w) >= 3
), sized AS (
  SELECT doc_id, g, len(g) AS n FROM grams
), inv AS (
  SELECT doc_id, unnest(g) AS gram FROM sized
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM inv a JOIN inv b USING (gram)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT src, dst,
       round(inter * 1.0 / (na.n + nb.n - inter), 6) AS jaccard
FROM inter
JOIN sized na ON na.doc_id = src
JOIN sized nb ON nb.doc_id = dst
WHERE round(inter * 1.0 / (na.n + nb.n - inter), 6) >= 0.5
  AND (src % 7 = 0 OR dst % 7 = 0)
"""


def q_neardup_clusters_docs(spark, sf_dir):
    """END-TO-END near-duplicate clustering: MinHash-LSH candidate pruning
    -> exact 3-gram Jaccard verification (tau=0.5) -> OUR
    connected-components operator -> a cluster id for every document
    (singletons map to themselves).

    This is the full dedup pipeline shape as one driver-checkable query:
    the oracle recomputes the exact edge set in SQL and closes it with a
    recursive CTE, so LSH recall, the verifier, AND the CC fixpoint are
    all gated at once."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.components import connected_components

    docs = _read(spark, sf_dir, "documents")
    pairs = q_minhash_lsh_docs(spark, sf_dir)  # (src, dst, jaccard) exact
    edges = pairs.select("src", "dst")
    nodes = docs.select(F.col("doc_id").alias("file_id"))
    clusters, _ = connected_components(edges, nodes, DedupConfig())
    return clusters.select(F.col("file_id").alias("doc_id"), "cluster_id")


# shared prefix: the exact-edge set + recursive closure (used by the
# clusters gate and the cluster-representative gate below)
_SQL_NEARDUP_CLOSURE = """
WITH RECURSIVE words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(w) - 2 + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS g
  FROM words WHERE len(w) >= 3
), inv AS (
  SELECT doc_id, unnest(g) AS gram FROM grams
), inter AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS inter
  FROM inv a JOIN inv b USING (gram)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), edges0 AS (
  SELECT src, dst FROM inter
  JOIN grams na ON na.doc_id = src
  JOIN grams nb ON nb.doc_id = dst
  WHERE round(inter * 1.0 / (len(na.g) + len(nb.g) - inter), 6) >= 0.5
), edges AS (
  SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0
), reach (src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
"""

SQL_NEARDUP_CLUSTERS_DOCS = _SQL_NEARDUP_CLOSURE + """
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1
"""


def q_cluster_rep_docs(spark, sf_dir):
    """Cluster-representative selection (the 'which copy do we keep'
    step after near-dup clustering): within every near-dup cluster,
    the representative is the member with the most content (max
    n_chars, ties broken by min doc_id); every doc gets an is_rep
    flag a curation pipeline filters on.

    Delegates to operators.components.cluster_representatives (one hash
    join + TWO partial-aggregated aggregations, NO cluster-wide window —
    a boilerplate mega-cluster of 10^8 members partial-aggregates
    map-side instead of gathering into one task). NOTE: this gate query
    recomputes the full LSH->verify->CC closure inline ONLY because gate
    queries must be self-contained; a production job reads the
    checkpointed clusters table instead (DedupPipeline.representatives)."""
    from sparkdedup.operators.components import cluster_representatives

    clusters = q_neardup_clusters_docs(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return cluster_representatives(clusters, docs, id_col="doc_id",
                                   cluster_col="cluster_id",
                                   size_col="n_chars")


SQL_CLUSTER_REP_DOCS = _SQL_NEARDUP_CLOSURE + """
, cl AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1
), j AS (
  SELECT cl.doc_id, cl.cluster_id, d.n_chars
  FROM cl JOIN documents d USING (doc_id)
), best AS (
  SELECT cluster_id, max(n_chars) AS mx FROM j GROUP BY 1
), rep AS (
  SELECT j.cluster_id, min(j.doc_id) AS rep
  FROM j JOIN best ON j.cluster_id = best.cluster_id AND j.n_chars = best.mx
  GROUP BY 1
)
SELECT j.doc_id, j.cluster_id, j.doc_id = rep.rep AS is_rep
FROM j JOIN rep ON j.cluster_id = rep.cluster_id
"""


# --------------------------------------------------------------------------
# chunk dedup and curation family
# --------------------------------------------------------------------------


def _chunk20_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, h): md5 of every consecutive non-overlapping 20-word
    window — one python kernel per Arrow batch instead of the JVM
    split/sequence/slice/concat_ws/md5 expression chain (guide §4.2; the
    kernel is byte-identical — verified group-by-group vs the expression
    plan at sf1.0 — and ~30% faster per pass). Works on batch AND
    streaming frames (mapInPandas is stream-capable)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import re as _re

        # spelled-out class, not \s: python's ASCII \s adds \x0b (same
        # parity note as the simhash kernel)
        split = _re.compile(r"[ \t\n\f\r]+").split
        for pdf in batches:
            if not len(pdf):
                continue
            ids: list = []
            hs: list = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = (text or "").strip(" ")  # trim() strips spaces only
                ws = split(t) if t else [""]  # SQL split('') -> ['']
                for s in range(0, len(ws), 20):
                    ids.append(doc_id)
                    hs.append(hashlib.md5(
                        " ".join(ws[s:s + 20]).encode("utf-8")).hexdigest())
            yield pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                                "h": hs})

    return docs.select("doc_id", "text").mapInPandas(
        kern, schema="doc_id long, h string")


def q_chunk_dedup_docs(spark, sf_dir):
    """Paragraph-granularity dedup (the Falcon/RefinedWeb 'duplicated
    paragraph fraction' filter, reference minhash semantics applied one
    level below the document): documents are chunked into consecutive
    non-overlapping 20-word windows, each chunk keyed by md5, and a
    chunk is 'duplicated' when the SAME chunk text occurs in >= 2
    DISTINCT documents. Output: per-doc chunk count, duplicated-chunk
    count, duplicated fraction, and the keep flag a curation pipeline
    filters on.

    Plan shape (the 100-TB shape): chunking is one Arrow-batch kernel on
    one scan (split -> window join -> md5, _chunk20_rows); cross-doc
    detection is TWO partial-aggregated skinny shuffles — distinct
    (chunk_hash, doc_id) then count per chunk_hash — never the document
    text (the md5 is 32 bytes regardless of chunk width, and the
    two-phase distinct bounds hot boilerplate chunks the same way
    repetition/ngram gates bound their skew). The dup-hash join back is
    hash->hash; all emitted fractions are integer-count ratios (exact
    longs in both engines; round(x,6) hash-stable)."""
    docs = _read(spark, sf_dir, "documents")
    ex = _chunk20_rows(_fan_out(docs, spark))
    dup = (ex.select("h", "doc_id").distinct()
             .groupBy("h").agg(F.count("*").alias("nd"))
             .filter(F.col("nd") >= 2)
             .select("h", F.lit(1).alias("_dup")))
    return (ex.join(dup, "h", "left")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_chunks"),
                   F.count("_dup").alias("n_dup_chunks"))
              .select("doc_id", "n_chunks", "n_dup_chunks",
                      F.round(F.col("n_dup_chunks") / F.col("n_chunks"),
                              6).alias("dup_chunk_frac"),
                      (F.col("n_dup_chunks") * 2 <= F.col("n_chunks"))
                      .alias("keep")))


SQL_CHUNK_DEDUP_DOCS = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 1
), ch AS (
  SELECT doc_id, md5(array_to_string(list_slice(w, s, s + 19), ' ')) AS h
  FROM w, unnest(generate_series(1, len(w), 20)) AS t(s)
), dup AS (
  SELECT h, 1 AS _dup
  FROM (SELECT h, doc_id FROM ch GROUP BY 1, 2)
  GROUP BY h HAVING count(*) >= 2
)
SELECT ch.doc_id,
       count(*) AS n_chunks,
       count(dup._dup) AS n_dup_chunks,
       round(count(dup._dup) * 1.0 / count(*), 6) AS dup_chunk_frac,
       (count(dup._dup) * 2 <= count(*)) AS keep
FROM ch LEFT JOIN dup ON ch.h = dup.h
GROUP BY ch.doc_id
"""


def q_curation_verdict_docs(spark, sf_dir):
    """The END-TO-END curation verdict: one DataFrame DAG that runs the
    four standard training-data filters over the corpus split
    (doc_id % 13 != 0 — the same corpus/benchmark split the
    decontamination gate uses) and emits per-doc flags plus the final
    keep decision:
      too_short    — n_words < 30;
      repetitive   — Gopher top-word-frac > 0.125 OR dup-3-gram-frac
                     > 0.01 (both rounded to 6 places from integer
                     counts; docs under 3 words are not scored —
                     they are too_short anyway);
      contaminated — >= 10% distinct word-3-gram overlap with the
                     benchmark split (decontaminate_docs semantics,
                     broadcast gram dictionary);
      dup_nonrep   — exact duplicate (md5 of text, corpus-side groups)
                     that is not its group's min-doc_id representative;
      keep         — none of the above.

    Plan shape: ONE scan feeds four branches — the repetition metrics'
    skinny word shuffle, the broadcast contamination semi-join, the
    32-hex md5 dup groupBy, and the base projection — all re-joined on
    doc_id; Catalyst broadcast-joins the tiny flagged sets back. This
    is the query a 100-TB curation run actually executes nightly."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 13 != 0)
    w = F.split(F.trim("text"), r"[ \t\n\f\r]+")
    base = (docs.select("doc_id", "text", w.alias("w"))
                .withColumn("n_words", F.size("w")))

    # repetition metrics (n_words >= 3 only)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("w", i), F.element_at("w", i + 1),
            F.element_at("w", i + 2)))
    sized = base.filter(F.col("n_words") >= 3)
    gm = sized.select(
        "doc_id", "n_words",
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"))
    wc = (sized.select("doc_id", F.explode("w").alias("word"))
               .groupBy("doc_id", "word").agg(F.count("*").alias("c")))
    tw = wc.groupBy("doc_id").agg(F.max("c").alias("top_c"))
    repf = (gm.join(tw, "doc_id")
              .select("doc_id",
                      ((F.round(F.col("top_c") / F.col("n_words"), 6)
                        > 0.125) |
                       (F.round(F.lit(1.0)
                                - F.col("n_distinct") / F.col("n_grams"), 6)
                        > 0.01)).alias("_repet")))

    cont = q_decontaminate_docs(spark, sf_dir).select(
        "doc_id", F.lit(True).alias("_cont"))

    reps = (docs.groupBy(F.md5("text").alias("_th"))
                .agg(F.min("doc_id").alias("_rep")))
    dup = (docs.select("doc_id", F.md5("text").alias("_th"))
               .join(reps, "_th")
               .select("doc_id", (F.col("doc_id") != F.col("_rep"))
                       .alias("_dupnr")))

    out = (base.select("doc_id", "n_words")
               .join(repf, "doc_id", "left")
               .join(cont, "doc_id", "left")
               .join(dup, "doc_id"))
    too_short = F.col("n_words") < 30
    repetitive = F.coalesce(F.col("_repet"), F.lit(False))
    contaminated = F.coalesce(F.col("_cont"), F.lit(False))
    dup_nonrep = F.col("_dupnr")
    return out.select(
        "doc_id", too_short.alias("too_short"),
        repetitive.alias("repetitive"),
        contaminated.alias("contaminated"),
        dup_nonrep.alias("dup_nonrep"),
        (~(too_short | repetitive | contaminated | dup_nonrep))
        .alias("keep"))


SQL_CURATION_VERDICT_DOCS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
), words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM corpus
), sized AS (
  SELECT doc_id, w, len(w) AS n_words FROM words
), ex AS (
  SELECT doc_id, unnest(w) AS word FROM sized WHERE n_words >= 3
), wc AS (
  SELECT doc_id, word, count(*) AS c FROM ex GROUP BY 1, 2
), tw AS (
  SELECT doc_id, max(c) AS top_c FROM wc GROUP BY 1
), gm AS (
  SELECT doc_id, n_words,
         list_transform(range(1, n_words - 2 + 1),
                        i -> array_to_string(w[i:i+2], ' ')) AS g
  FROM sized WHERE n_words >= 3
), repf AS (
  SELECT gm.doc_id,
         (round(top_c * 1.0 / n_words, 6) > 0.125
          OR round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 6) > 0.01)
           AS repet
  FROM gm JOIN tw ON gm.doc_id = tw.doc_id
), allwords AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), allgrams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(w) - 2 + 1),
           i -> array_to_string(w[i:i+2], ' '))) AS g
  FROM allwords WHERE len(w) >= 3
), inv AS (
  SELECT doc_id, unnest(g) AS gram FROM allgrams
), bench AS (
  SELECT DISTINCT gram FROM inv WHERE doc_id % 13 = 0
), cinv AS (
  SELECT doc_id, gram FROM inv WHERE doc_id % 13 <> 0
), csizes AS (
  SELECT doc_id, count(*) AS n_grams FROM cinv GROUP BY 1
), hits AS (
  SELECT c.doc_id, count(*) AS shared FROM cinv c JOIN bench USING (gram)
  GROUP BY 1
), cont AS (
  SELECT h.doc_id, TRUE AS cont
  FROM hits h JOIN csizes s ON h.doc_id = s.doc_id
  WHERE round(shared * 1.0 / n_grams, 6) >= 0.1
), reps AS (
  SELECT md5(text) AS th, min(doc_id) AS rep FROM corpus GROUP BY 1
), dup AS (
  SELECT c.doc_id, c.doc_id <> reps.rep AS dupnr
  FROM corpus c JOIN reps ON md5(c.text) = reps.th
)
SELECT s.doc_id,
       s.n_words < 30 AS too_short,
       coalesce(repf.repet, FALSE) AS repetitive,
       coalesce(cont.cont, FALSE) AS contaminated,
       dup.dupnr AS dup_nonrep,
       NOT (s.n_words < 30 OR coalesce(repf.repet, FALSE)
            OR coalesce(cont.cont, FALSE) OR dup.dupnr) AS keep
FROM sized s
LEFT JOIN repf ON s.doc_id = repf.doc_id
LEFT JOIN cont ON s.doc_id = cont.doc_id
JOIN dup ON s.doc_id = dup.doc_id
"""


def q_pack_sequences_docs(spark, sf_dir):
    """Sequence packing for pretraining batches: assign every document
    to a training pack of <= 512 tokens by deterministic next-fit —
    docs are routed to a hash bucket (doc_id % 16), ordered by doc_id
    within the bucket, and a new pack opens whenever adding the next
    doc would cross the budget (a doc longer than the budget gets its
    own pack). Emits (doc_id, bucket, pack_id, n_tokens) with pack_id
    globally unique (bucket << 40 | local pack).

    Plan shape: token counts are a JVM-side size(split(..)) on the
    scan; the only data movement is ONE hash repartition on bucket,
    then an applyInPandas kernel runs the (inherently sequential)
    next-fit scan per bucket over numpy int64 arrays. Parallelism ==
    bucket count: 16 here to keep the oracle's recursive-CTE replay
    cheap, but the operator takes n_buckets as a parameter — at 10^12
    files you size buckets so each holds O(10^6) docs (the per-bucket
    scan is a trivial int loop; the packing decision needs only the
    running fill, so buckets never exchange state). Determinism: the
    (bucket, doc_id) order is total, the budget compare is exact
    integer arithmetic, so Spark's per-bucket loop and DuckDB's
    recursive CTE step identically."""
    from sparkdedup.operators.packing import pack_next_fit

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.pmod("doc_id", F.lit(16)).cast("int").alias("bucket"),
        F.size(F.split(F.trim("text"), r"[ \t\n\f\r]+"))
         .cast("long").alias("n_tokens"))
    return pack_next_fit(toks, budget=512, n_buckets=16)


SQL_PACK_SEQUENCES_DOCS = """
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(doc_id % 16 AS INT) AS bucket,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
  FROM documents
), rec AS (
  SELECT bucket, rn, doc_id, n, CAST(0 AS BIGINT) AS pack, n AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.bucket, t.rn, t.doc_id, t.n,
         CASE WHEN rec.fill + t.n > 512 THEN rec.pack + 1 ELSE rec.pack END,
         CASE WHEN rec.fill + t.n > 512 THEN t.n ELSE rec.fill + t.n END
  FROM rec JOIN t ON t.bucket = rec.bucket AND t.rn = rec.rn + 1
)
SELECT doc_id, bucket,
       CAST(bucket AS BIGINT) * 1099511627776 + pack AS pack_id,
       n AS n_tokens
FROM rec
"""


def q_pii_scrub_docs(spark, sf_dir):
    """PII detection + redaction (functions/pii.py): per-doc counts of
    email / SSN / phone / IPv4 spans plus the redacted text, all in
    WholeStageCodegen regexp_count/regexp_replace — a pure map stage,
    nothing shuffles at any corpus size.

    The synthetic documents table contains no PII by construction, so
    this gate row verifies the zero-hit path over real data (counts
    AND redacted-text equality against the identical RE2/Java-common
    patterns in DuckDB); detection itself is verified in
    tests/test_pii.py on synthetic fixtures carrying every class and
    the order-dependence cases."""
    from sparkdedup.functions.pii import pii_scrub

    docs = _read(spark, sf_dir, "documents")
    return (pii_scrub(docs, "doc_id", "text")
            .select("doc_id", "n_email", "n_ssn", "n_phone", "n_ip",
                    "n_pii", F.md5("redacted").alias("redacted_md5")))


def _sql_pii_scrub_docs() -> str:
    """Oracle generated from the SAME PII_PATTERNS table (single source
    of truth; the patterns are written in the Java-regex/RE2 common
    subset precisely so this is possible)."""
    from sparkdedup.functions.pii import PII_PATTERNS

    counts = ",\n       ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS)
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _name, pat, _ in PII_PATTERNS)
    redacted = "text"
    for _name, pat, repl in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
SELECT doc_id,
       {counts},
       {total} AS n_pii,
       md5({redacted}) AS redacted_md5
FROM documents
"""


SQL_PII_SCRUB_DOCS = _sql_pii_scrub_docs()


def q_stratified_sample_docs(spark, sf_dir):
    """Stratified curation sample: an exact, deterministic ceil(25%) of
    each language stratum, chosen by md5(doc_id) order (the same
    hash-replay device the reservoir/VarOpt gates use, so the draw is
    identical in Spark, DuckDB, and numpy).

    The per-stratum rank comes from grouped_rank_scalable, NOT a plain
    per-lang window: a language stratum at 100 TB is billions of rows,
    and Window.partitionBy(lang) would gather each stratum into the one
    task that sorts it. The stitched range-partition rank bounds every
    task at a range partition. The per-stratum counts are one tiny
    aggregate (rows = |langs|), broadcast back. 0.25 is a dyadic
    fraction, so n * 0.25 is exact in IEEE and ceil() agrees across
    engines for every n."""
    from sparkdedup.operators.sampling import grouped_rank_scalable

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.md5(F.col("doc_id").cast("string")).alias("h"))
    dp = spark.sparkContext.defaultParallelism
    ranked = grouped_rank_scalable(docs, ["lang"], ["h", "doc_id"], dp,
                                   rank_col="rank")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    return (ranked.join(F.broadcast(counts), "lang")
            .filter(F.col("rank") <= F.ceil(F.col("n") * 0.25))
            .select("doc_id", "lang", F.col("rank").cast("long")
                    .alias("rank")))


SQL_STRATIFIED_SAMPLE_DOCS = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT doc_id, lang, rank FROM ranked WHERE rank <= ceil(n * 0.25)
"""


# --------------------------------------------------------------------------
# quantile sketches (KLL / REQ / t-digest)
# --------------------------------------------------------------------------


def q_kll_quantiles_orders(spark, sf_dir):
    """KLL sketch BUILD + MERGE as a distributed aggregation (reference
    kll/sketch.go; operators/quantile_agg.py — published KLL compactor chain,
    two-phase: per-partition chains -> per-group retained-item merge),
    gated through the exact-regime contract the driver already uses for
    kmv/tuple/cms (NOTES gotcha #7): k is sized from the parquet FOOTER
    row count (the bloom/tile-sizing pattern — total rows bounds every
    group's count), so no level ever compacts AT ANY SF this harness
    runs, the sketch retains every item at weight 1, and its rank
    estimator returns the EXACT order statistic at rank ceil(q*n) —
    which the oracle recomputes with a plain window. require_single_level
    makes the contract a hard runtime guard (task failure, not silently
    approximate values) if a future gate/data-scale change breaks the
    sizing. The probabilistic envelope in compacting mode (rank error
    ~1.65% at k=200) is pytest-gated in tests/test_kll_agg.py, as is
    merge with REFERENCE-decoded .sk sketches. The q*n rank match across
    engines rests on both engines parsing the same decimal literals
    (0.25/0.5/0.75/0.95) to the same IEEE double and performing the same
    double multiply — 0.95 is NOT a dyadic fraction; the equality is
    literal-parse + identical-multiply, gate-verified."""
    from sparkdedup.operators.quantile_agg import kll_agg, kll_agg_quantiles

    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice")
    k = max(4096, _table_rows(sf_dir, "orders"))
    sk = kll_agg(o, "o_totalprice", ["o_orderpriority"], k=k)
    qs = kll_agg_quantiles(sk, [0.25, 0.5, 0.75, 0.95],
                           ["o_orderpriority"], round_to=4,
                           require_single_level=True)
    return qs.select("o_orderpriority", "q", F.col("value").alias("price"))


SQL_KLL_QUANTILES_ORDERS = """
WITH ranked AS (
  SELECT o_orderpriority, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS cnt
  FROM orders
), qs AS (
  SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q
)
SELECT r.o_orderpriority, qs.q, round(r.o_totalprice, 4) AS price
FROM ranked r JOIN qs
  ON r.rn = greatest(1, CAST(ceil(qs.q * r.cnt) AS BIGINT))
"""


def q_kll_rank_cdf_orders(spark, sf_dir):
    """KLL rank/CDF/PMF READERS over kll_agg sketches (reference
    kll/items_sketch.go:254-440 sorted-view surface; r4 verdict ask #8):
    the merged chain retains (value, 2^level) pairs, so CDF is a sorted
    cumsum lookup and PMF its first difference — read per group at three
    fixed price split points, under the SAME exact-regime contract as
    kll_quantiles_orders (k sized from footer rows, require_single_level
    hard guard): every retained weight is 1, so cdf = count(v <= x)/n
    exactly, and both engines compute the identical
    integer-count / integer-n double. Oracle recomputes the counts with
    a conditional aggregate + lag window. Estimation-mode accuracy is
    pytest-gated in tests/test_kll_agg.py."""
    from sparkdedup.operators.quantile_agg import kll_agg, kll_agg_cdf

    o = _read(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice")
    k = max(4096, _table_rows(sf_dir, "orders"))
    sk = kll_agg(o, "o_totalprice", ["o_orderpriority"], k=k)
    return kll_agg_cdf(sk, [50000.0, 150000.0, 300000.0],
                       ["o_orderpriority"], round_to=6,
                       require_single_level=True)


SQL_KLL_RANK_CDF_ORDERS = """
WITH s AS (
  SELECT CAST(unnest([50000.0, 150000.0, 300000.0]) AS DOUBLE) AS x
), c AS (
  SELECT o.o_orderpriority, s.x,
         CAST(sum(CASE WHEN o.o_totalprice <= s.x THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS cdf_raw
  FROM orders o CROSS JOIN s
  GROUP BY 1, 2
)
SELECT o_orderpriority, x, round(cdf_raw, 6) AS cdf,
       round(cdf_raw - coalesce(lag(cdf_raw) OVER (
           PARTITION BY o_orderpriority ORDER BY x), 0.0), 6) AS pmf
FROM c
"""


def q_doc_length_buckets(spark, sf_dir):
    """Sketch-DRIVEN curation composite: global KLL quartile thresholds
    of document length assign every doc a size bucket — the shape a
    100-TB pipeline uses to stratify by length WITHOUT a global sort:
    the sketch build is one shuffle-free two-phase aggregation yielding
    a single tiny sketch row, the three thresholds pivot to one row, and
    that row broadcasts back onto the scan (BroadcastNestedLoopJoin over
    exactly one row — constant cost at any corpus size).

    Correctness contract: the exact-regime device of
    kll_quantiles_orders (k >= footer row count, require_single_level
    hard guard), so each threshold is the exact order statistic at rank
    ceil(q*n); 0.25/0.5/0.75 are dyadic, so q*n is the same IEEE double
    in both engines. n_chars is integral, so the bucket comparisons are
    exact."""
    from sparkdedup.operators.quantile_agg import kll_agg, kll_agg_quantiles

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("len"))
    k = max(4096, _table_rows(sf_dir, "documents"))
    sk = kll_agg(docs, "len", [], k=k)
    th = kll_agg_quantiles(sk, [0.25, 0.5, 0.75], [], round_to=6,
                           require_single_level=True)
    wide = th.agg(
        F.max(F.when(F.col("q") == 0.25, F.col("value"))).alias("t1"),
        F.max(F.when(F.col("q") == 0.50, F.col("value"))).alias("t2"),
        F.max(F.when(F.col("q") == 0.75, F.col("value"))).alias("t3"))
    return (docs.crossJoin(F.broadcast(wide))
            .select("doc_id",
                    F.col("len").cast("long").alias("n_chars"),
                    F.when(F.col("len") <= F.col("t1"), F.lit(0))
                     .when(F.col("len") <= F.col("t2"), F.lit(1))
                     .when(F.col("len") <= F.col("t3"), F.lit(2))
                     .otherwise(F.lit(3)).cast("int").alias("bucket")))


SQL_DOC_LENGTH_BUCKETS = """
WITH ranked AS (
  SELECT n_chars,
         row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER () AS cnt
  FROM documents
), th AS (
  SELECT
    max(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * cnt) AS BIGINT))
        THEN n_chars END) AS t1,
    max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * cnt) AS BIGINT))
        THEN n_chars END) AS t2,
    max(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * cnt) AS BIGINT))
        THEN n_chars END) AS t3
  FROM ranked
)
SELECT doc_id, n_chars,
       CASE WHEN n_chars <= t1 THEN 0
            WHEN n_chars <= t2 THEN 1
            WHEN n_chars <= t3 THEN 2
            ELSE 3 END AS bucket
FROM documents, th
"""


def q_req_topk_prices(spark, sf_dir):
    """REQ sketch (reference req/sketch.go:61-560, HRA mode;
    operators/quantile_agg.py — published relative-error compactor chain,
    two-phase mapInPandas build -> applyInPandas merge) exercised through
    its DEFINING exact property: in HRA mode the protected top of level 0
    always retains the true global top-k items, so extreme-tail order
    statistics come back EXACT, not approximate. The query emits each
    returnflag's top-5 prices read from the sketch's weight-1 level; the
    oracle recomputes them with a plain window over the raw table. The
    probabilistic envelope (relative-tail rank error) is pytest-gated in
    tests/test_req_agg.py."""
    from sparkdedup.operators.quantile_agg import req_agg

    li = _read(spark, sf_dir, "lineitem")
    sk = req_agg(li, "l_extendedprice", ["l_returnflag"], k=64)
    z = sk.select("l_returnflag",
                  F.explode(F.arrays_zip("levels", "values")).alias("it"))
    lvl0 = z.filter(F.col("it.levels") == 0).select(
        "l_returnflag", F.col("it.values").alias("price"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("price"))
    return (lvl0.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("l_returnflag", F.col("rank").cast("long").alias("rank"),
                    F.round("price", 4).alias("price")))


SQL_REQ_TOPK_PRICES = """
SELECT l_returnflag, rn AS rank, round(v, 4) AS price FROM (
  SELECT l_returnflag, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice DESC) AS rn
  FROM lineitem) t
WHERE rn <= 5
"""


def q_req_bottomk_prices(spark, sf_dir):
    """REQ sketch in LRA mode (reference req/sketch.go:47-76 supports
    both accuracy orientations; operators/quantile_agg.py hra=False — r4
    verdict ask #6) exercised through LRA's DEFINING exact property, the
    mirror of q_req_topk_prices: in LRA mode the protected BOTTOM of
    level 0 always retains the true global bottom-k items, so extreme
    HEAD order statistics come back EXACT. Emits each returnflag's
    bottom-5 prices read from the sketch's weight-1 level; the oracle
    recomputes them with a plain ascending window. The LRA relative-error
    envelope at low ranks is pytest-gated in tests/test_req_agg.py."""
    from sparkdedup.operators.quantile_agg import req_agg

    li = _read(spark, sf_dir, "lineitem")
    sk = req_agg(li, "l_extendedprice", ["l_returnflag"], k=64, hra=False)
    z = sk.select("l_returnflag",
                  F.explode(F.arrays_zip("levels", "values")).alias("it"))
    lvl0 = z.filter(F.col("it.levels") == 0).select(
        "l_returnflag", F.col("it.values").alias("price"))
    w = Window.partitionBy("l_returnflag").orderBy(F.asc("price"))
    return (lvl0.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("l_returnflag", F.col("rank").cast("long").alias("rank"),
                    F.round("price", 4).alias("price")))


SQL_REQ_BOTTOMK_PRICES = """
SELECT l_returnflag, rn AS rank, round(v, 4) AS price FROM (
  SELECT l_returnflag, l_extendedprice AS v,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice ASC) AS rn
  FROM lineitem) t
WHERE rn <= 5
"""


def q_tdigest_prices(spark, sf_dir):
    """t-digest build + merge as a distributed aggregation (reference
    tdigest/double.go:102-563 behavior; operators/quantile_agg.py —
    two-phase: per-batch compress -> per-group centroid merge). The
    digest is approximate in its quantiles (pytest-gated accuracy:
    tests/test_tdigest_agg.py) but EXACT in its mass bookkeeping — total
    weight n, min and max survive both phases untouched — so the gate
    hashes those exact invariants per group, which is precisely what a
    SQL engine can replay."""
    from sparkdedup.operators.quantile_agg import tdigest_agg

    li = _read(spark, sf_dir, "lineitem")
    dig = tdigest_agg(li, "l_extendedprice", ["l_returnflag"], delta=100.0)
    return dig.select(
        "l_returnflag", F.col("n").cast("long").alias("n"),
        F.round("min_item", 4).alias("min_price"),
        F.round("max_item", 4).alias("max_price"))


SQL_TDIGEST_PRICES = """
SELECT l_returnflag, count(*) AS n,
       round(min(l_extendedprice), 4) AS min_price,
       round(max(l_extendedprice), 4) AS max_price
FROM lineitem GROUP BY 1
"""


# --------------------------------------------------------------------------
# similarity family
# --------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 50)
    as one GEMM scan (operators/similarity.py::ann_brute_topk): the
    bounded query matrix ships in the kernel closure (pushed-down
    vec_id < 50 scan, O(50 x dim) driver pull), every corpus Arrow batch
    scores all 50 queries in a single BLAS multiply and emits only its
    per-query partial top-5, and a final window ranks the tiny union.
    Replaces the r3 plan (broadcast crossJoin + per-element zip_with/
    aggregate HOF trees — interpreter cost per vector element per pair,
    the most expensive query of BENCH_r03). The LSH-bucketed scale path
    lives in sparkdedup/operators/similarity.py."""
    from sparkdedup.operators.similarity import ann_brute_topk

    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50)
    return ann_brute_topk(emb, queries, k=5)


SQL_ANN_COSINE_TOPK = """
WITH pairs AS (
  SELECT q.vec_id AS qid, n.vec_id AS nid,
         round(
           list_sum(list_transform(range(1, len(q.embedding) + 1),
             i -> CAST(q.embedding[i] AS DOUBLE) * CAST(n.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(n.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
  FROM embeddings q, embeddings n
  WHERE q.vec_id < 50 AND q.vec_id <> n.vec_id
), ranked AS (
  SELECT qid, nid, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rank
  FROM pairs
)
SELECT qid, nid, cosine, rank FROM ranked WHERE rank <= 5
"""


def q_kmv_distinct_tokens(spark, sf_dir):
    """Distinct tokens per source via OUR distributed KMV/theta aggregate
    (update/union split across a single shuffle, murmur3 h1>>1 screening).

    Oracle contract: per-source token vocabulary at the gate scale is below
    k=256, so the sketch is in exact mode (theta = MAX, estimate == exact
    distinct count, theta_frac == 1.0). Estimation-mode accuracy (beyond k)
    is asserted separately in tests/test_theta_ops.py."""
    from sparkdedup.operators.kmv_agg import kmv_distinct_agg

    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.split(F.trim("text"), r"[ \t\n\f\r]+").alias("token"))
    return kmv_distinct_agg(toks, "source", "token", k=256)


SQL_KMV_DISTINCT_TOKENS = """
WITH toks AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
)
SELECT source,
       CAST(count(DISTINCT tok) AS DOUBLE) AS n_distinct_est,
       CAST(count(DISTINCT tok) AS INT) AS n_retained,
       1.0 AS theta_frac
FROM toks GROUP BY 1
"""


def q_asof_last_view(spark, sf_dir):
    """As-of join (Spark has no native one): for every purchase event, the
    most recent prior-or-equal view event's value by the same user —
    implemented as union + key-partitioned window carry-forward (one
    shuffle, no per-group pandas). Oracle: DuckDB native ASOF JOIN."""
    from sparkdedup.operators.asof import asof_join

    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("value")))  # unique (by, ts)
    out = asof_join(purchases, views, on="ts", by="user_id",
                    value_cols=["value"])
    return out.select("event_id", "user_id",
                      F.round("value_right", 6).alias("last_view_value"))


SQL_ASOF_LAST_VIEW = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, ts, max(value) AS value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, round(v.value, 6) AS last_view_value
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def q_embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs: all pairs with cosine >= 0.3,
    exact, via blocked float64 GEMM tiles (operators/similarity.py::
    cosine_pairs_blocked).

    Why not LSH here: at tau=0.3 the ambient pair density is high (931 of
    990 qualifying pairs at sf0.01 sit in [0.3, 0.4)), so any sub-quadratic
    candidate scheme loses recall — the exact answer is inherently an
    O(N^2)-compute problem and the scalable form is the tiled matrix
    multiply (each tile one BLAS call per Arrow batch, grid parallel across
    executors). High-tau dedup should use ann_lsh_lookup / MinHash instead."""
    from sparkdedup.operators.similarity import cosine_pairs_blocked

    emb = _read(spark, sf_dir, "embeddings")
    n = _table_rows(sf_dir, "embeddings")  # footer metadata, no Spark job
    n_blocks = max(1, -(-n // 2048))
    return cosine_pairs_blocked(emb, threshold=0.3, n_blocks=n_blocks)


SQL_EMBEDDING_NEARDUP_PAIRS = """
SELECT a.vec_id AS src, b.vec_id AS dst,
       round(
         list_sum(list_transform(range(1, len(a.embedding) + 1),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND round(
        list_sum(list_transform(range(1, len(a.embedding) + 1),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(a.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(b.embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) >= 0.3
"""


def q_embedding_dedup_docs(spark, sf_dir):
    """Embedding-cosine near-duplicate DEDUP (the semantic-dedup shape of
    a training-data pipeline): exact cosine pairs at tau=0.4 (blocked
    GEMM tiles, same kernel as embedding_neardup_pairs) -> OUR
    connected-components operator -> one cluster id per vector, keep-min
    representative per component (singletons map to themselves). The
    oracle recomputes the exact pair set in SQL and closes it with a
    recursive CTE — pair recall, the threshold, and the CC fixpoint all
    gated at once (the embedding-space mirror of neardup_clusters_docs).
    tau=0.4 is where this fixture has real cluster structure (59-66
    pairs at gate scales; >= 0.5 is empty)."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.components import connected_components
    from sparkdedup.operators.similarity import cosine_pairs_blocked

    emb = _read(spark, sf_dir, "embeddings")
    n = _table_rows(sf_dir, "embeddings")
    pairs = cosine_pairs_blocked(emb, threshold=0.4,
                                 n_blocks=max(1, -(-n // 2048)))
    clusters, _ = connected_components(
        pairs.select("src", "dst"),
        emb.select(F.col("vec_id").alias("file_id")),
        DedupConfig())
    return clusters.select(F.col("file_id").alias("vec_id"), "cluster_id")


SQL_EMBEDDING_DEDUP_DOCS = """
WITH RECURSIVE sim AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND round(
          list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> CAST(a.embedding[i] AS DOUBLE)
                 * CAST(b.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) >= 0.4
), edges AS (
  SELECT src, dst FROM sim UNION SELECT dst, src FROM sim
), reach (src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY 1
"""


def q_simhash_near_docs(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 4) with the pair search done by
    OUR exact pigeonhole piece-join index (operators/simhash_index.py).

    The signature here is a 60-bit frequency-weighted SimHash over md5
    token hashes — functionally identical to the pipeline's murmur3
    SimHash (functions/simhash.py) but reproducible in ANSI SQL, which
    lets DuckDB recompute the signatures and brute-force the pairs as the
    oracle. Computed in a numpy kernel (hashlib md5 == the SQL md5; one
    pass per doc, no explode-groupBy shuffle) — the equivalent 60-agg JVM
    plan paid ~4s of fixed codegen compile and the nested-HOF
    alternatives hit the Spark 4.1 self-join codegen bug."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from sparkdedup.operators.simhash_index import simhash_near_pairs

    docs = _fan_out(_read(spark, sf_dir, "documents"), spark)

    def sim_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import re as _re
        # RE2's \s is [ \t\n\f\r] — python's ASCII \s also matches \x0b,
        # so spell the class out for exact DuckDB split parity (\v-tested)
        split = _re.compile(r"[ \t\n\f\r]+").split
        md5_cache: dict[str, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            # batch-level vocabulary dedup (the signatures-kernel pattern):
            # gather every doc's token stream, factorize ONCE, md5 each
            # DISTINCT token once per batch (cached across batches), then
            # per-doc bit votes as one reduceat over the occurrence rows —
            # no Python work proportional to tokens, only to new vocab
            words, n_words = [], []
            for text in pdf["text"]:
                # trim() in Spark/DuckDB strips SPACES only — mirror that,
                # and keep split's leading/trailing empty tokens
                t = (text or "").strip(" ")
                ws = split(t) if t else [""]  # SQL split('') -> ['']
                words.extend(ws)
                n_words.append(len(ws))
            codes, uniq = pd.factorize(
                pd.array(words, dtype=object), use_na_sentinel=False)
            hs = np.empty(len(uniq), dtype=np.int64)
            for i, u in enumerate(uniq):
                v = md5_cache.get(u)
                if v is None:
                    v = int(hashlib.md5(
                        u.encode("utf-8")).hexdigest()[:15], 16)
                    md5_cache[u] = v
                hs[i] = v
            bits = (hs[:, None] >> np.arange(60)) & 1          # (vocab, 60)
            n_words = np.asarray(n_words, dtype=np.int64)
            starts = np.cumsum(n_words) - n_words
            ones = np.add.reduceat(bits[codes], starts, axis=0)  # (docs, 60)
            s = 2 * ones - n_words[:, None]                       # Σ(2b-1)
            sigs = ((s > 0).astype(np.int64)
                    << np.arange(60)).sum(axis=1)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(),
                                "simhash": sigs})

    sig = docs.select("doc_id", "text").mapInPandas(
        sim_kernel, schema="doc_id long, simhash long")
    pairs = simhash_near_pairs(sig, max_hamming=4, id_col="doc_id")
    return pairs.select("src", "dst", F.col("hamming").cast("long"))


SQL_SIMHASH_NEAR_DOCS = """
WITH toks AS (
  SELECT doc_id, tok, count(*)::BIGINT AS w FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents) GROUP BY 1, 2
), hashed AS (
  SELECT doc_id, w,
    list_sum(list_transform(range(0, 15),
      i -> (strpos('0123456789abcdef', substring(md5(tok), 15 - i, 1)) - 1)
           * (1::BIGINT << (i*4)))) AS h
  FROM toks
), bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN ((h >> j) & 1) = 1 THEN w ELSE -w END) AS s
  FROM hashed, range(0, 60) r(j)
  GROUP BY 1, 2
), sigs AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS sig
  FROM bits GROUP BY 1
)
SELECT a.doc_id AS src, b.doc_id AS dst,
       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
FROM sigs a, sigs b
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 4
"""


def _quantized_probes(emb: DataFrame) -> DataFrame:
    """Every embedding re-encoded through the deterministic 1/16-step
    quantizer: the probe side of both bucketed lookup queries. 1/16 steps
    are exact in float32 AND double, so the SQL oracles (which recompute
    floor(x * 16) / 16) see bit-identical probe vectors."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def quant(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = (np.floor(v * 16) / 16).astype(np.float32)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "embedding": list(q)})

    return emb.mapInPandas(
        quant, schema="vec_id long, embedding array<float>")


def q_ann_lsh_lookup(spark, sf_dir):
    """Sub-quadratic similarity search under the driver gate: every
    embedding is re-encoded through a deterministic 1/16-step quantizer
    (the "same vector, different encoding" production shape — int-quantized
    or recompressed embeddings of identical content), and each quantized
    probe finds its original via hyperplane-LSH buckets + exact rerank
    (operators/similarity.py::ann_lsh_lookup).

    Why this is the honest sub-quadratic gate: at 16 bits/table a random
    pair collides w.p. ~2^-16 per table (measured candidate density 0.9-3%
    of brute force across sf0.001-0.1) while each probe and its original
    (cosine >= 0.94, angle <= 20 deg) collide in >= 1 of 64 tables with
    overwhelming margin — verified EXHAUSTIVELY: zero missed self-pairs at
    every sf with this seed. The oracle recomputes the quantizer and the
    exact top-1 by brute force in SQL, so the gate requires the LSH plan
    to return the TRUE nearest neighbor for all 500 probes (recall is also
    pytest-gated at the operator level; cosine values verified to 4dp).

    1/16 quantization steps are exact in float32 AND double, so both
    engines see bit-identical probe vectors."""
    from sparkdedup.operators.similarity import ann_lsh_lookup

    emb = _read(spark, sf_dir, "embeddings")

    probes = _quantized_probes(emb)
    res = ann_lsh_lookup(probes, emb, dim=64, k=1,
                         n_tables=64, n_bits=16, seed=9001)
    return res.select("qid", "nid", "cosine")


SQL_ANN_LSH_LOOKUP = """
WITH p AS (
  SELECT vec_id AS qid,
         list_transform(embedding,
                        x -> floor(CAST(x AS DOUBLE) * 16) / 16) AS qv
  FROM embeddings
), s AS (
  SELECT p.qid, e.vec_id AS nid,
         round(
           list_sum(list_transform(range(1, len(p.qv) + 1),
             i -> p.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
  FROM p, embeddings e
)
SELECT qid, nid, cosine FROM s
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) = 1
"""


def q_ann_ivf_lookup(spark, sf_dir):
    """IVF similarity search under the driver gate — the data-adaptive
    counterpart of q_ann_lsh_lookup (same quantized-probe construction:
    every embedding re-encoded through the deterministic 1/16-step
    quantizer finds its original): k-means coarse quantizer (trained on
    the bounded TakeOrdered hash sample), index vectors in 1 cell, probes
    scan 8 cells, exact GEMM rerank on candidates only. The cell count
    scales with the table (16 below 1k vectors, 32 above — sized from
    parquet FOOTER rows, no Spark job; at real scale n_centroids grows
    ~sqrt(n) so the probed fraction n_probe/n_centroids keeps shrinking).
    Recall is data-dependent in IVF — the probe sweep in the r4 notes
    measured 4/16 cells missing 0.25% of self-pairs at sf0.1 — so the
    config carries TWO safety nets (r4 advice): (a) index vectors are
    multi-assigned to their top-2 cells (index_assign=2), the standard
    hedge for cell-boundary vectors — a candidate SUPERSET, so it can
    only move the result toward the brute-force oracle; (b) the config
    was verified by EXHAUSTIVE comparison at all three sf with this
    seed: zero missed self-pairs, which is what lets the oracle demand
    the TRUE brute-force top-1 for every probe (recall is also
    pytest-gated at the operator level on data the gate never sees).
    The fitted codebook is memoized under (dataset path + mtime), so
    repeat invocations skip the trainer TakeOrdered pull entirely."""
    from sparkdedup.operators.similarity import ann_ivf_lookup

    emb = _read(spark, sf_dir, "embeddings")

    probes = _quantized_probes(emb)
    n = _table_rows(sf_dir, "embeddings")
    res = ann_ivf_lookup(probes, emb, k=1,
                         n_centroids=16 if n < 1000 else 32, n_probe=8,
                         seed=9001, index_assign=2,
                         cache_key=_dataset_key(sf_dir, "embeddings"))
    return res.select("qid", "nid", "cosine")


SQL_ANN_IVF_LOOKUP = """
WITH p AS (
  SELECT vec_id AS qid,
         list_transform(embedding,
                        x -> floor(CAST(x AS DOUBLE) * 16) / 16) AS qv
  FROM embeddings
), s AS (
  SELECT p.qid, e.vec_id AS nid,
         round(
           list_sum(list_transform(range(1, len(p.qv) + 1),
             i -> p.qv[i] * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(p.qv, x -> x * x)))
              * sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cosine
  FROM p, embeddings e
)
SELECT qid, nid, cosine FROM s
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) = 1
"""


# --------------------------------------------------------------------------
# sketch-operator queries (tuple / bloom / count-min / reservoir / VarOpt)
# --------------------------------------------------------------------------

def q_tuple_user_spend(spark, sf_dir):
    """Tuple sketch (reference tuple/update_sketch.go:36-49 semantics, sum
    Policy): per event_type, estimated distinct users AND their estimated
    total spend from one k-bounded pass (operators/tuple_agg.py).

    Oracle contract: at sf0.01 the per-group key cardinality (150 users)
    is below k=256, so the sketch is in exact mode (theta = MAX) and both
    estimates equal the exact answers. At larger SF it degrades gracefully
    to the reference's estimation-mode semantics (tested separately)."""
    from sparkdedup.operators.tuple_agg import tuple_sketch_agg

    ev = _read(spark, sf_dir, "events")
    t = tuple_sketch_agg(ev, "event_type", "user_id", "value", k=256)
    return t.select(
        "event_type",
        F.round("n_distinct_est", 4).alias("n_users_est"),
        F.round("payload_total_est", 2).alias("spend_est"),
        F.col("n_retained").cast("long").alias("n_retained"))


SQL_TUPLE_USER_SPEND = """
SELECT event_type,
       round(CAST(count(DISTINCT user_id) AS DOUBLE), 4) AS n_users_est,
       round(sum(value), 2) AS spend_est,
       count(DISTINCT user_id) AS n_retained
FROM events GROUP BY 1
"""


def q_bloom_member_custkeys(spark, sf_dir):
    """Bloom filter membership (reference filters/bloom_filter.go:144-246):
    build over orders.o_custkey (distributed BIT_OR bitmap aggregation),
    probe with known members (all customers with orders) plus synthetic
    known non-members (custkey + 10^8).

    Oracle contract: no false negatives ever (members always true), and at
    fpp = 1e-6 with ~10^3 non-member probes the expected false-positive
    count is ~10^-3, so the output equals exact IN-membership (verified
    deterministic at the gate scale; the fpp bound itself is asserted in
    tests/test_membership.py)."""
    from sparkdedup.operators.membership import (bloom_build,
                                                 bloom_might_contain)

    o = _read(spark, sf_dir, "orders").select("o_custkey")
    n = _table_rows(sf_dir, "orders")  # footer metadata, no Spark job
    bloom = bloom_build(o, "o_custkey", n_items=n, fpp=1e-6)
    c = _read(spark, sf_dir, "customer")
    probes = (c.select(F.col("c_custkey").alias("custkey"))
              .unionByName(c.select(
                  (F.col("c_custkey") + F.lit(100000000)).alias("custkey"))))
    return bloom_might_contain(bloom, probes, "custkey")


SQL_BLOOM_MEMBER_CUSTKEYS = """
WITH probes AS (
  SELECT c_custkey AS custkey FROM customer
  UNION ALL
  SELECT c_custkey + 100000000 AS custkey FROM customer
)
SELECT custkey,
       custkey IN (SELECT o_custkey FROM orders) AS might_contain
FROM probes
"""


def q_cms_user_counts(spark, sf_dir):
    """Count-Min point estimates (reference count/count_min_sketch.go:
    45-205): event counts per user through a d x w counter matrix built by
    groupBy (additive-merge semantics), estimate = min over rows.

    Oracle contract: estimate >= exact always; with w = 2719 >> 150 keys
    and d = 5 rows the collision probability is ~1e-7, so estimates equal
    exact counts at the gate scale (the eps*N overestimate bound is
    asserted in tests/test_membership.py)."""
    from sparkdedup.operators.membership import (count_min_build,
                                                 count_min_estimate)

    ev = _read(spark, sf_dir, "events").select("user_id")
    cms = count_min_build(ev, "user_id", eps=0.001, confidence=0.99)
    probes = ev.distinct()
    return count_min_estimate(cms, probes, "user_id")


SQL_CMS_USER_COUNTS = """
SELECT user_id, count(*) AS estimate FROM events GROUP BY 1
"""


def q_reservoir_orders(spark, sf_dir):
    """Reservoir sampling (reference sampling/reservoir_items_sketch.go:
    72-131): exact-k uniform sample per order priority via the distributed
    formulation — uniform rank key, keep k smallest per group (identical
    in distribution to sequential reservoir insertion, deterministic under
    the key). The rank key is md5(orderkey) so DuckDB reproduces the exact
    sample."""
    from sparkdedup.operators.sampling import reservoir_sample

    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    key = F.md5(F.col("o_orderkey").cast("string"))
    s = reservoir_sample(o, k=10, group_cols=["o_orderpriority"], key=key)
    return s.select("o_orderpriority", "o_orderkey")


SQL_RESERVOIR_ORDERS = """
SELECT o_orderpriority, o_orderkey FROM (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY md5(CAST(o_orderkey AS VARCHAR))) AS rk
  FROM orders) WHERE rk <= 10
"""


def q_streaming_hourly_rollup(spark, sf_dir):
    """Structured Streaming under the driver gate: the events table is
    consumed as a FILE STREAM (readStream + pathGlobFilter), rolled up by
    the watermarked tumbling-window operator (streaming/stream_dedup.py::
    streaming_hourly_rollup, watermark 2h), and drained with
    Trigger.AvailableNow into a memory sink. Append mode emits exactly
    the CLOSED windows — those whose end is at or before the final
    watermark max(ts) - 2h — which is a pure batch-SQL-expressible set,
    so the oracle recomputes the same rollup with the same cutoff. This
    pins the streaming semantics (watermark eviction, no-data flush
    batch, exact agg parity with batch) under the hash gate, not just in
    pytest."""
    import uuid

    from sparkdedup.streaming.stream_dedup import streaming_hourly_rollup

    batch = _read(spark, sf_dir, "events")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    rolled = streaming_hourly_rollup(stream, watermark="2 hours")
    name = f"shr_{uuid.uuid4().hex[:12]}"
    ckpt = _stream_ckpt("hourly_rollup")
    q = (rolled.writeStream.outputMode("append").format("memory")
         .queryName(name).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return _drain_memory_sink(spark, name).select(
        F.col("hour").cast("timestamp_ntz").alias("hour"),
        "event_type", "n", "sum_value")


SQL_STREAMING_HOURLY_ROLLUP = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
       <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
"""


def q_streaming_first_seen(spark, sf_dir):
    """Streaming exact dedup under the driver gate (the bloom
    QueryAndUpdate / first-seen contract, reference filter.QueryAndUpdate
    semantics): documents consumed as a file stream, first occurrence of
    each content hash kept by the watermarked stateful dropDuplicates
    (streaming/stream_dedup.py::streaming_first_seen), drained with
    AvailableNow. WHICH physical row of a duplicate group arrives first
    depends on partition order, so the gate pins the deterministic part —
    the DISTINCT content-hash key set — which the oracle recomputes as
    SELECT DISTINCT md5(text)."""
    import uuid

    from sparkdedup.streaming.stream_dedup import streaming_first_seen

    batch = _read(spark, sf_dir, "documents")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir)
              .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))))
    dedup = streaming_first_seen(stream)
    name = f"sfs_{uuid.uuid4().hex[:12]}"
    ckpt = _stream_ckpt("first_seen")
    q = (dedup.writeStream.outputMode("append").format("memory")
         .queryName(name).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return _drain_memory_sink(spark, name).select("text_hash")


SQL_STREAMING_FIRST_SEEN = """
SELECT DISTINCT md5(text) AS text_hash FROM documents
"""


def q_streaming_heavy_hitters(spark, sf_dir):
    """The CUSTOM STATEFUL streaming operator under the driver gate:
    per-event-type heavy hitters via applyInPandasWithState
    (streaming/stateful.py — the streaming lift of the reference's
    Misra-Gries frequent-items sketch, frequencies/longs_sketch.go:
    402-466), drained with AvailableNow. Gated through the exact-regime
    contract: max_map_size is sized from the events FOOTER row count
    (>= any group's distinct-item count), so the bounded-state purge
    never fires, every emission carries exact running counts, and
    counts only GROW across triggers — so max(est_count) per
    (group, item) over the sink is the exact total regardless of how
    AvailableNow split the batches. The final top-10 is computed
    deterministically post-drain (count desc, item string asc); the
    oracle recomputes it with a plain GROUP BY + window. The PURGING
    regime (bounded state, undercount <= cumulative offset) is
    pytest-gated in tests/test_sampling_stateful.py."""
    import uuid

    from sparkdedup.streaming.stateful import streaming_heavy_hitters

    batch = _read(spark, sf_dir, "events")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    cap = _table_rows(sf_dir, "events")
    hh = streaming_heavy_hitters(stream, "event_type", "user_id",
                                 max_map_size=cap, top_k=cap)
    name = f"shh_{uuid.uuid4().hex[:12]}"
    ckpt = _stream_ckpt("heavy_hitters")
    q = (hh.writeStream.outputMode("update").format("memory")
         .queryName(name).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    sink = _drain_memory_sink(spark, name)
    final = sink.groupBy("group", "item").agg(
        F.max("est_count").alias("n"))
    w = Window.partitionBy("group").orderBy(F.desc("n"), F.asc("item"))
    return (final.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select(F.col("group").alias("event_type"),
                    F.col("item").alias("user_id"),
                    F.col("n").cast("long").alias("n"),
                    F.col("rank").cast("long").alias("rank")))


SQL_STREAMING_HEAVY_HITTERS = """
SELECT event_type, user_id, n, rank FROM (
  SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
         count(*) AS n,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY count(*) DESC,
                                     CAST(user_id AS VARCHAR)) AS rank
  FROM events GROUP BY event_type, user_id) t
WHERE rank <= 10
"""


_SYS_OFFSET = 0.3819660112501051  # deterministic systematic-draw offset


def q_streaming_chunk_dedup(spark, sf_dir):
    """STREAMING duplicate-chunk index (the streaming lift of
    chunk_dedup_docs — what an ingest tick runs to flag boilerplate as
    documents arrive): documents consumed as a file stream, chunked
    into 20-word windows by the shared Arrow-batch kernel (same
    _chunk20_rows as the batch gate), then a custom applyInPandasWithState
    operator keyed by
    chunk hash maintains the distinct-doc set per chunk (capped +
    saturating at scale — exact regime here) and emits
    (h, n_docs, rep_doc_id) every trigger. Batch-split-invariance makes
    the gate deterministic: n_docs only grows and rep_doc_id only
    shrinks across triggers, so max/min per hash over the update-mode
    sink equals the batch GROUP BY however AvailableNow split the
    stream. Output: every chunk seen in >= 2 distinct docs, with its
    exact doc count and min-id representative; oracle = the plain
    batch aggregation."""
    import uuid

    from sparkdedup.streaming.stateful import streaming_chunk_index

    batch = _read(spark, sf_dir, "documents")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "documents.parquet").parquet(sf_dir))
    ex = _chunk20_rows(stream)
    idx = streaming_chunk_index(ex)
    name = f"sci_{uuid.uuid4().hex[:12]}"
    ckpt = _stream_ckpt("chunk_index")
    q = (idx.writeStream.outputMode("update").format("memory")
         .queryName(name).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    sink = _drain_memory_sink(spark, name)
    return (sink.groupBy("h")
                .agg(F.max("n_docs").alias("n_docs"),
                     F.min("rep_doc_id").alias("rep_doc_id"))
                .filter(F.col("n_docs") >= 2))


SQL_STREAMING_CHUNK_DEDUP = """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 1
), ch AS (
  SELECT doc_id, md5(array_to_string(list_slice(w, s, s + 19), ' ')) AS h
  FROM w, unnest(generate_series(1, len(w), 20)) AS t(s)
)
SELECT h, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS rep_doc_id
FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2
"""


def q_varopt_orders(spark, sf_dir):
    """VarOpt_k weighted sample (reference sampling/varopt_items_sketch.go:
    94-250): per order priority, k=50 orders weighted by o_totalprice —
    heavy orders (w >= tau) kept exactly with their own weight, the rest
    drawn systematically with inclusion probability exactly w/tau and
    assigned weight tau, so sum(adj_weight) over any predicate is an
    unbiased subset-sum estimate and sum over the whole sample equals the
    group total EXACTLY. Pure window algebra (no RNG, no UDF): the order
    key is md5 so DuckDB replays the identical draw."""
    from sparkdedup.operators.sampling import varopt_sample

    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    key = F.md5(F.concat(F.lit("v|"), F.col("o_orderkey").cast("string")))
    s = varopt_sample(o, k=50, weight_col="o_totalprice",
                      group_cols=["o_orderpriority"], order_key=key,
                      offset=_SYS_OFFSET)
    return s.select("o_orderpriority", "o_orderkey",
                    F.round("adj_weight", 4).alias("adj_weight"))


# Shared VarOpt sample replay (the full draw, adj_weight UNROUNDED) —
# SQL_VAROPT_ORDERS gates the per-row sample; SQL_VAROPT_SUBSET_SUM
# aggregates the same replayed sample into HT subset-sum estimates.
_VAROPT_SAMPLE_SQL = f"""
WITH base AS (
  SELECT o_orderpriority AS grp, o_orderkey,
         CAST(o_totalprice AS DOUBLE) AS w,
         md5('v|' || CAST(o_orderkey AS VARCHAR)) AS mk
  FROM orders
), t AS (
  SELECT *,
    row_number() OVER (PARTITION BY grp ORDER BY w DESC, mk) AS rn,
    coalesce(sum(w) OVER (PARTITION BY grp ORDER BY w DESC, mk
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0.0) AS pre,
    count(*) OVER (PARTITION BY grp) AS cnt
  FROM base
), t2 AS (
  -- group total as the LAST ordered running-sum value (pre + w at
  -- rn = cnt), mirroring threshold_sample: both engines accumulate
  -- running frames sequentially, so tau matches bit-for-bit
  SELECT *, max(CASE WHEN rn = cnt THEN pre + w END)
              OVER (PARTITION BY grp) AS s
  FROM t
), c AS (
  SELECT *, (s - pre) / greatest(50 - rn + 1, 1) AS cand FROM t2
), hh AS (
  SELECT *, min(CASE WHEN rn <= 50 AND w <= cand THEN rn END)
              OVER (PARTITION BY grp) AS hf
  FROM c
), tv AS (
  SELECT *, max(CASE WHEN rn = hf THEN cand END)
              OVER (PARTITION BY grp) AS tau
  FROM hh
), p AS (
  SELECT *, CASE WHEN cnt <= 50 OR rn < hf THEN 0.0 ELSE w / tau END AS pi
  FROM tv
), cm AS (
  SELECT *, sum(pi) OVER (PARTITION BY grp ORDER BY mk
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM p
)
SELECT grp, o_orderkey,
       CASE WHEN cnt <= 50 OR rn < hf THEN w ELSE tau END AS adj_w
FROM cm
WHERE cnt <= 50 OR rn < hf
   OR floor(cum - {_SYS_OFFSET!r}) > floor(cum - pi - {_SYS_OFFSET!r})
"""

SQL_VAROPT_ORDERS = f"""
SELECT grp AS o_orderpriority, o_orderkey, round(adj_w, 4) AS adj_weight
FROM ({_VAROPT_SAMPLE_SQL})
"""


def q_varopt_subset_sum(spark, sf_dir):
    """EstimateSubsetSum over the VarOpt sample (reference
    sampling/varopt_items_sketch.go EstimateSubsetSum surface;
    operators/sampling.py:373-396): the Horvitz-Thompson subset-sum
    estimate is sum(adj_weight) over the sampled rows matching a
    predicate — here a pseudo-random ~25% subset (o_orderkey % 4 = 0) —
    plus the full-sample total, which equals the group total EXACTLY by
    the HT identity (pytest-gated; the gate here verifies both sums
    end-to-end through the same md5-replayed draw as varopt_orders).
    Both engines sum the identical <=50-row sample and round the SUM at
    4dp, so fp reorder noise (~1e-7 at these magnitudes) is far inside
    the rounding granularity."""
    from sparkdedup.operators.sampling import varopt_sample

    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    key = F.md5(F.concat(F.lit("v|"), F.col("o_orderkey").cast("string")))
    s = varopt_sample(o, k=50, weight_col="o_totalprice",
                      group_cols=["o_orderpriority"], order_key=key,
                      offset=_SYS_OFFSET)
    return (s.groupBy("o_orderpriority")
            .agg(F.round(F.sum(F.when(F.col("o_orderkey") % 4 == 0,
                                      F.col("adj_weight"))
                               .otherwise(F.lit(0.0))), 4)
                 .alias("est_subset"),
                 F.round(F.sum("adj_weight"), 4).alias("est_total")))


SQL_VAROPT_SUBSET_SUM = f"""
SELECT grp AS o_orderpriority,
       round(sum(CASE WHEN o_orderkey % 4 = 0 THEN adj_w ELSE 0.0 END), 4)
         AS est_subset,
       round(sum(adj_w), 4) AS est_total
FROM ({_VAROPT_SAMPLE_SQL})
GROUP BY 1
"""


def q_reservoir_union_orders(spark, sf_dir):
    """Reservoir UNION (reference sampling/reservoir_items_union.go:
    122-253): orders are split into two deterministic streams, each
    reservoir-sampled at a different capacity (k=40 / k=25 per priority),
    then the two per-priority reservoirs are merged into ONE reservoir of
    capacity k=25 = MIN(k_a, k_b) — the reference's union-capacity cap
    (reservoir_items_union.go:44-45), which guarantees tau >= every
    implicit weight so no source turns heavy — where each item's implicit
    weight is max(1, n/k) of its source. Every ORIGINAL order then has
    the same first-order inclusion probability regardless of which stream
    carried it (the reference's documented guarantee). Every draw is
    md5-keyed, so the oracle replays the sampling AND the weighted merge
    exactly."""
    from sparkdedup.operators.sampling import reservoir_union

    o = _read(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    okey = F.col("o_orderkey").cast("string")
    src = F.when(F.substring(F.md5(F.concat(F.lit("s|"), okey)), 1, 1) < "8",
                 "a").otherwise("b")
    rk = F.md5(F.concat(F.lit("r|"), okey))
    d = o.withColumn("src", src)
    w_res = Window.partitionBy("o_orderpriority", "src").orderBy(rk)
    w_n = Window.partitionBy("o_orderpriority", "src")
    ksrc = F.when(F.col("src") == "a", F.lit(40)).otherwise(F.lit(25))
    samp = (d.withColumn("_rrn", F.row_number().over(w_res))
             .withColumn("src_n", F.count("*").over(w_n))
             .withColumn("src_k", ksrc)
             .filter(F.col("_rrn") <= F.col("src_k")).drop("_rrn"))
    u = reservoir_union(samp, k=25, n_col="src_n", k_col="src_k",
                        group_cols=["o_orderpriority"],
                        order_key=F.md5(F.concat(F.lit("u|"), okey)),
                        offset=_SYS_OFFSET)
    return u.select("o_orderpriority", "src", "o_orderkey")


SQL_RESERVOIR_UNION_ORDERS = f"""
WITH base AS (
  SELECT o_orderpriority AS grp, o_orderkey,
         CASE WHEN substring(md5('s|' || CAST(o_orderkey AS VARCHAR)), 1, 1)
                   < '8' THEN 'a' ELSE 'b' END AS src
  FROM orders
), tagged AS (
  SELECT *,
    row_number() OVER (PARTITION BY grp, src
                       ORDER BY md5('r|' || CAST(o_orderkey AS VARCHAR)))
      AS rrn,
    count(*) OVER (PARTITION BY grp, src) AS src_n,
    CASE WHEN src = 'a' THEN 40 ELSE 25 END AS src_k
  FROM base
), samp AS (
  SELECT grp, o_orderkey, src,
         greatest(1.0, CAST(src_n AS DOUBLE) / CAST(src_k AS DOUBLE)) AS w,
         md5('u|' || CAST(o_orderkey AS VARCHAR)) AS mk
  FROM tagged WHERE rrn <= src_k
), t AS (
  SELECT *,
    row_number() OVER (PARTITION BY grp ORDER BY w DESC, mk) AS rn,
    coalesce(sum(w) OVER (PARTITION BY grp ORDER BY w DESC, mk
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0.0) AS pre,
    count(*) OVER (PARTITION BY grp) AS cnt
  FROM samp
), t2 AS (
  SELECT *, max(CASE WHEN rn = cnt THEN pre + w END)
              OVER (PARTITION BY grp) AS s
  FROM t
), c AS (
  SELECT *, (s - pre) / greatest(25 - rn + 1, 1) AS cand FROM t2
), hh AS (
  SELECT *, min(CASE WHEN rn <= 25 AND w <= cand THEN rn END)
              OVER (PARTITION BY grp) AS hf
  FROM c
), tv AS (
  SELECT *, max(CASE WHEN rn = hf THEN cand END)
              OVER (PARTITION BY grp) AS tau
  FROM hh
), p AS (
  SELECT *, CASE WHEN cnt <= 25 OR rn < hf THEN 0.0 ELSE w / tau END AS pi
  FROM tv
), cm AS (
  SELECT *, sum(pi) OVER (PARTITION BY grp ORDER BY mk
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM p
)
SELECT grp AS o_orderpriority, src, o_orderkey
FROM cm
WHERE cnt <= 25 OR rn < hf
   OR floor(cum - {_SYS_OFFSET!r}) > floor(cum - pi - {_SYS_OFFSET!r})
"""


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

QUERIES = {
    # near-dup and exact dedup (signatures, LSH, verify, containment, CC)
    "exact_dedup_docs": q_exact_dedup_docs,
    "dedup_clusters_docs": q_dedup_clusters_docs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_docs": q_minhash_lsh_docs,
    "incremental_neardup_docs": q_incremental_neardup_docs,
    "neardup_clusters_docs": q_neardup_clusters_docs,
    "cluster_rep_docs": q_cluster_rep_docs,
    "simhash_near_docs": q_simhash_near_docs,
    "substr_containment_docs": q_substr_containment_docs,
    "chunk_dedup_docs": q_chunk_dedup_docs,
    "decontaminate_docs": q_decontaminate_docs,
    # embedding similarity (operators/similarity.py)
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_neardup_pairs": q_embedding_neardup_pairs,
    "embedding_dedup_docs": q_embedding_dedup_docs,
    "ann_lsh_lookup": q_ann_lsh_lookup,
    "ann_ivf_lookup": q_ann_ivf_lookup,
    # curation (PII, packing, stratified sampling, KLL-driven buckets)
    "curation_verdict_docs": q_curation_verdict_docs,
    "pii_scrub_docs": q_pii_scrub_docs,
    "pack_sequences_docs": q_pack_sequences_docs,
    "stratified_sample_docs": q_stratified_sample_docs,
    "doc_length_buckets": q_doc_length_buckets,
    # quantile sketches (KLL / REQ / t-digest)
    "kll_quantiles_orders": q_kll_quantiles_orders,
    "kll_rank_cdf_orders": q_kll_rank_cdf_orders,
    "req_topk_prices": q_req_topk_prices,
    "req_bottomk_prices": q_req_bottomk_prices,
    "tdigest_prices": q_tdigest_prices,
    # distinct, membership and frequency sketches (KMV / tuple / bloom / CMS)
    "kmv_distinct_tokens": q_kmv_distinct_tokens,
    "tuple_user_spend": q_tuple_user_spend,
    "bloom_member_custkeys": q_bloom_member_custkeys,
    "cms_user_counts": q_cms_user_counts,
    # sampling (reservoir / VarOpt)
    "reservoir_orders": q_reservoir_orders,
    "reservoir_union_orders": q_reservoir_union_orders,
    "varopt_orders": q_varopt_orders,
    "varopt_subset_sum": q_varopt_subset_sum,
    # streaming (streaming/)
    "streaming_hourly_rollup": q_streaming_hourly_rollup,
    "streaming_first_seen": q_streaming_first_seen,
    "streaming_heavy_hitters": q_streaming_heavy_hitters,
    "streaming_chunk_dedup": q_streaming_chunk_dedup,
    # as-of join (operators/asof.py)
    "asof_last_view": q_asof_last_view,
}

ORACLES = {
    # near-dup and exact dedup
    "exact_dedup_docs": SQL_EXACT_DEDUP_DOCS,
    "dedup_clusters_docs": SQL_DEDUP_CLUSTERS_DOCS,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "minhash_lsh_docs": SQL_MINHASH_LSH_DOCS,
    "incremental_neardup_docs": SQL_INCREMENTAL_NEARDUP_DOCS,
    "neardup_clusters_docs": SQL_NEARDUP_CLUSTERS_DOCS,
    "cluster_rep_docs": SQL_CLUSTER_REP_DOCS,
    "simhash_near_docs": SQL_SIMHASH_NEAR_DOCS,
    "substr_containment_docs": SQL_SUBSTR_CONTAINMENT_DOCS,
    "chunk_dedup_docs": SQL_CHUNK_DEDUP_DOCS,
    "decontaminate_docs": SQL_DECONTAMINATE_DOCS,
    # embedding similarity
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "embedding_neardup_pairs": SQL_EMBEDDING_NEARDUP_PAIRS,
    "embedding_dedup_docs": SQL_EMBEDDING_DEDUP_DOCS,
    "ann_lsh_lookup": SQL_ANN_LSH_LOOKUP,
    "ann_ivf_lookup": SQL_ANN_IVF_LOOKUP,
    # curation
    "curation_verdict_docs": SQL_CURATION_VERDICT_DOCS,
    "pii_scrub_docs": SQL_PII_SCRUB_DOCS,
    "pack_sequences_docs": SQL_PACK_SEQUENCES_DOCS,
    "stratified_sample_docs": SQL_STRATIFIED_SAMPLE_DOCS,
    "doc_length_buckets": SQL_DOC_LENGTH_BUCKETS,
    # quantile sketches
    "kll_quantiles_orders": SQL_KLL_QUANTILES_ORDERS,
    "kll_rank_cdf_orders": SQL_KLL_RANK_CDF_ORDERS,
    "req_topk_prices": SQL_REQ_TOPK_PRICES,
    "req_bottomk_prices": SQL_REQ_BOTTOMK_PRICES,
    "tdigest_prices": SQL_TDIGEST_PRICES,
    # distinct, membership and frequency sketches
    "kmv_distinct_tokens": SQL_KMV_DISTINCT_TOKENS,
    "tuple_user_spend": SQL_TUPLE_USER_SPEND,
    "bloom_member_custkeys": SQL_BLOOM_MEMBER_CUSTKEYS,
    "cms_user_counts": SQL_CMS_USER_COUNTS,
    # sampling
    "reservoir_orders": SQL_RESERVOIR_ORDERS,
    "reservoir_union_orders": SQL_RESERVOIR_UNION_ORDERS,
    "varopt_orders": SQL_VAROPT_ORDERS,
    "varopt_subset_sum": SQL_VAROPT_SUBSET_SUM,
    # streaming
    "streaming_hourly_rollup": SQL_STREAMING_HOURLY_ROLLUP,
    "streaming_first_seen": SQL_STREAMING_FIRST_SEEN,
    "streaming_heavy_hitters": SQL_STREAMING_HEAVY_HITTERS,
    "streaming_chunk_dedup": SQL_STREAMING_CHUNK_DEDUP,
    # as-of join
    "asof_last_view": SQL_ASOF_LAST_VIEW,
}
