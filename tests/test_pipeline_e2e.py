"""End-to-end pipeline correctness vs the brute-force oracle.

The north-rule gate: dup-pair recall >= 0.99 vs the reference-config cluster
assignments. Because the pipeline is deterministic at identical
shingle/signature config, we assert EXACT equality of edge sets and cluster
assignments with the single-process oracle (recall 1.0), plus:
  - per-row sha256(content) invariant source table -> signatures
    (independent implementations: hashlib in-stage vs Spark sha2)
  - boilerplate mega-groups must NOT merge into clusters
  - resume-from-checkpoint reruns are bit-identical
  - two full runs are deterministic
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.oracle import run_oracle
from sparkdedup.pipeline import DedupPipeline

CFG = DedupConfig()


@pytest.fixture(scope="module")
def oracle(small_corpus):
    return run_oracle(small_corpus.files, CFG)


@pytest.fixture(scope="module")
def pipeline_result(spark, small_corpus, tmp_path_factory):
    workdir = tmp_path_factory.mktemp("dedup_work")
    files = spark.createDataFrame(small_corpus.files)
    pipe = DedupPipeline(spark, CFG, workdir=str(workdir))
    res = pipe.run(files)
    return {
        "edges": res.edges.toPandas(),
        "clusters": res.clusters.toPandas(),
        "signatures": res.signatures.toPandas(),
        "metrics": res.metrics,
        "workdir": workdir,
    }


def _edge_sets(edges: pd.DataFrame):
    def of(source):
        sub = edges[edges.source == source]
        return set(zip(sub.src.astype(int), sub.dst.astype(int)))
    return of("lsh"), of("sha"), of("containment")


def test_edges_match_oracle_exactly(pipeline_result, oracle):
    assert list(pipeline_result["edges"].columns) == [
        "src", "dst", "jaccard", "source"]
    lsh, sha, cont = _edge_sets(pipeline_result["edges"])
    assert lsh == oracle.lsh_edges
    assert sha == oracle.sha_edges
    assert cont == oracle.containment_edges


def test_dup_pair_recall_vs_reference_assignments(pipeline_result, oracle):
    """North rule: recall >= 0.99 vs reference-config assignments."""
    ours = set()
    for _, r in pipeline_result["clusters"].iterrows():
        ours.add((int(r.file_id), int(r.cluster_id)))
    ref_pairs = {(f, c) for f, c in oracle.clusters.items()}
    inter = len(ours & ref_pairs)
    recall = inter / len(ref_pairs)
    assert recall >= 0.99, f"recall {recall}"
    assert recall == 1.0  # deterministic config -> exact reproduction


def test_sha256_invariant_end_to_end(spark, small_corpus, pipeline_result):
    """Every row's sha in the cluster-joined output equals sha256(content)
    computed independently (python hashlib here vs in-stage hashlib vs
    Spark's JVM sha2 in the source check)."""
    from pyspark.sql import functions as F

    sigs = pipeline_result["signatures"][["file_id", "repo", "path", "commit", "sha"]]
    src = small_corpus.files.copy()
    src["expected_sha"] = [hashlib.sha256(c.encode()).hexdigest()
                           for c in src["content"]]
    merged = sigs.merge(src, on=["repo", "path", "commit"], how="left")
    assert len(merged) == len(sigs)
    assert (merged["sha"] == merged["expected_sha"]).all()

    # and the JVM-side implementation agrees (cross-engine check)
    files_df = spark.createDataFrame(small_corpus.files)
    jvm = files_df.select("repo", "path", "commit",
                          F.sha2(F.col("content"), 256).alias("jvm_sha")).toPandas()
    merged2 = sigs.merge(jvm, on=["repo", "path", "commit"])
    assert (merged2["sha"] == merged2["jvm_sha"]).all()


def test_boilerplate_groups_do_not_cluster(pipeline_result, small_corpus, oracle):
    """Files sharing only a license header must not merge (skew guard)."""
    from sparkdedup.fixtures import file_ids_batch

    f = small_corpus.files
    # boilerplate rows are the last 3 * group_size added with kind recorded
    # in meta; recover them via truth_clusters: boiler files are singleton
    # clusters in the injected truth
    clusters = pipeline_result["clusters"]
    cl = dict(zip(clusters.file_id.astype(int), clusters.cluster_id.astype(int)))
    truth = small_corpus.truth_clusters
    truth_cl = dict(zip(truth.file_id.astype(int), truth.cluster_id.astype(int)))
    # any pipeline cluster containing two files from different truth clusters
    # where both are truth-singletons (boiler/base) is a false merge
    from collections import defaultdict
    members = defaultdict(list)
    for fid, c in cl.items():
        members[c].append(fid)
    truth_sizes = defaultdict(int)
    for fid, c in truth_cl.items():
        truth_sizes[c] += 1
    for c, ms in members.items():
        if len(ms) < 2:
            continue
        for m in ms:
            assert truth_sizes[truth_cl[m]] > 1, \
                f"file {m} (truth singleton) falsely merged into cluster {c}"


def test_truth_recall_report(pipeline_result, small_corpus, oracle):
    """Diagnostic: recall vs INJECTED truth pairs per kind (not the gate —
    tau=0.70 with 16x8 banding intentionally targets J>=0.7, so
    high-mutation 'near' pairs are out of range by design)."""
    cl = dict(zip(pipeline_result["clusters"].file_id.astype(int),
                  pipeline_result["clusters"].cluster_id.astype(int)))
    tp = small_corpus.truth_pairs
    report = {}
    for kind, grp in tp.groupby("kind"):
        hit = sum(1 for _, r in grp.iterrows()
                  if cl.get(int(r.src_id)) == cl.get(int(r.dst_id)))
        report[kind] = (hit, len(grp))
    # exact and contained must be perfect; near is threshold-limited
    assert report["exact"][0] == report["exact"][1]
    assert report["contained"][0] == report["contained"][1]


def test_stage_seconds_decompose_the_run(pipeline_result):
    """One clock rule: the stages are exactly signatures, edges and
    clusters; a sub-step timed inside a stage is part of its seconds, and
    the stages together fit inside the run's wall."""
    m = pipeline_result["metrics"]
    stages = m["stages"]
    assert set(stages) == {"signatures", "edges", "clusters"}
    for name, sub in (("edges", "containment_candidates_s"),
                      ("clusters", "cc_seconds")):
        assert 0 <= stages[name][sub] <= stages[name]["seconds"]
    assert sum(s["seconds"] for s in stages.values()) <= m["total_seconds"]
    assert "cc_seconds" not in m and m["cc_iterations"] >= 1


def _clear_codegen_cache(spark):
    """Empty Spark's JVM-wide codegen cache (a private field, reached by
    reflection), so the next run compiles its whole working set whatever
    ran before it in this session."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).loadingCache().invalidateAll()


def test_warm_run_reuses_generated_classes(spark, small_corpus,
                                           tmp_path_factory):
    """A second run in the same session finds its generated classes in
    Spark's codegen cache: it compiles at most a tenth of what a cold
    run compiles (with the default cache of 100 entries, ~97% of the
    classes recompile), and every stage reports its own count."""
    files = spark.createDataFrame(small_corpus.files)
    _clear_codegen_cache(spark)
    runs = [DedupPipeline(spark, CFG, workdir=str(
        tmp_path_factory.mktemp("dedup_codegen"))).run(files).metrics
        for _ in range(2)]
    for m in runs:
        assert set(m["stages"]) == {"signatures", "edges", "clusters"}
        assert all(s["codegen_compiles"] >= 0 for s in m["stages"].values())
        assert sum(s["codegen_compiles"] for s in m["stages"].values()) \
            <= m["codegen_compiles"]
    cold, warm = (m["codegen_compiles"] for m in runs)
    assert cold >= 50, cold
    assert warm <= 0.1 * cold, (cold, warm)


def test_stage_describes_its_jobs(spark, tmp_path):
    """Jobs a stage runs carry the description sparkdedup:<stage>; the
    caller's job group stays, and its description comes back after."""
    sc = spark.sparkContext
    seen = {}

    def build():
        seen["description"] = sc.getLocalProperty("spark.job.description")
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        return spark.range(3), {}

    sc.setJobGroup("caller-group", "caller")
    try:
        DedupPipeline(spark, CFG, workdir=str(tmp_path))._stage("probe", build)
        assert seen == {"description": "sparkdedup:probe",
                        "group": "caller-group"}
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
    finally:
        sc._jsc.clearJobGroup()


def test_resume_from_checkpoint_identical(spark, small_corpus, pipeline_result):
    """Rerun with the same workdir: all stages resume, outputs identical."""
    files = spark.createDataFrame(small_corpus.files)
    pipe = DedupPipeline(spark, CFG, workdir=str(pipeline_result["workdir"]))
    res2 = pipe.run(files)
    assert res2.metrics["stages"]["signatures"].get("resumed") is True
    assert res2.metrics["stages"]["edges"].get("resumed") is True
    assert res2.metrics["stages"]["clusters"].get("resumed") is True
    c1 = pipeline_result["clusters"].sort_values("file_id").reset_index(drop=True)
    c2 = res2.clusters.toPandas().sort_values("file_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(c1, c2)


def test_determinism_two_runs(spark, small_corpus, pipeline_result,
                              tmp_path):
    """A fresh run (no checkpoints) reproduces identical clusters."""
    files = spark.createDataFrame(small_corpus.files)
    pipe = DedupPipeline(spark, CFG, workdir=str(tmp_path))
    res2 = pipe.run(files)
    c1 = pipeline_result["clusters"].sort_values("file_id").reset_index(drop=True)
    c2 = res2.clusters.toPandas().sort_values("file_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(c1, c2)


def test_signature_stage_batch_invariance(spark, small_corpus):
    """Signatures must not depend on batch/partition boundaries."""
    from sparkdedup.operators.signatures import signature_stage

    files = spark.createDataFrame(small_corpus.files.head(60))
    s1 = signature_stage(files.repartition(1), CFG).toPandas()
    s8 = signature_stage(files.repartition(8), CFG).toPandas()
    s1 = s1.sort_values("file_id").reset_index(drop=True)
    s8 = s8.sort_values("file_id").reset_index(drop=True)
    for col in ["sha", "n_tokens", "n_shingles", "kmv_theta", "kmv_count", "simhash"]:
        assert (s1[col] == s8[col]).all(), col
    for col in ["kmv", "bands", "anchors", "probes"]:
        for x, y in zip(s1[col], s8[col]):
            assert np.array_equal(np.asarray(x), np.asarray(y)), col


@pytest.mark.parametrize("window", [CFG.containment_anchor_window, 1])
def test_signature_kernel_matches_oracle_per_doc(window):
    """The batch kernel (one segmented pass over the whole batch) equals
    the oracle's one-document-at-a-time signatures on every column, on a
    batch mixing every document-size edge case. With a 1-shingle anchor
    window the short documents (one shingle, placed after the long ones
    in the kernel's stream) get anchors and probes too."""
    import dataclasses

    from sparkdedup.operators.signatures import compute_signatures_pdf
    from sparkdedup.oracle import _file_signatures

    cfg = dataclasses.replace(CFG, containment_anchor_window=window)

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    w, s = CFG.containment_anchor_window, CFG.shingle_size
    texts = [
        None, "", " \t\n  \n",
        words(s - 1, "few"),                    # < shingle_size tokens
        words(s + w - 2, "sub"),                # w - 1 shingles
        words(s + w - 1, "exact"),              # exactly w shingles
        words(s + 6 * w, "long"),               # > kmv_k, > probe_blocks
        "caf\u00e9 = na\u00efve(x) + " + words(40, "u"),  # non-ASCII
        words(s + w - 1, "exact"),              # duplicate of the above
    ]
    pdf = pd.DataFrame({
        "repo": [f"r{i % 3}" for i in range(len(texts))],
        "path": [f"f{i}.py" for i in range(len(texts))],
        "commit": "c0", "lang": "python", "content": texts})
    got = compute_signatures_pdf(pdf, cfg)
    want = _file_signatures(pdf, cfg)
    assert len(got.columns) == 15
    for col in ["repo", "path", "commit", "lang"]:
        assert list(got[col]) == list(pdf[col]), col
    want["kmv_count"] = want["kmv"].map(len)
    assert list(got["sha"]) == list(want["sha"])
    for col in ["file_id", "n_tokens", "n_shingles", "kmv_theta",
                "kmv_count", "simhash"]:  # compared as 64-bit words
        assert [int(x) % 2**64 for x in got[col]] == \
            [int(x) % 2**64 for x in want[col]], col
    for col in ["kmv", "bands", "anchors", "probes"]:
        for i, (x, y) in enumerate(zip(got[col], want[col])):
            assert np.array_equal(np.asarray(x).view(np.int64),
                                  np.asarray(y).astype(np.uint64)
                                  .view(np.int64)), (col, i)
    if window == w:
        assert list(got["probes"].map(len)) == [0, 0, 0, 0, 0, 1, 4, 0, 1]


def test_cluster_representatives_from_materialized_table(
        spark, pipeline_result, tmp_path):
    """Production rep-selection path: reads the MATERIALIZED clusters
    table (no closure recomputation) and picks argmax(n_tokens) per
    cluster with min-file_id tie-break, exactly one rep per cluster."""
    from sparkdedup.pipeline import PipelineResult, DedupPipeline

    sigs = spark.createDataFrame(
        pipeline_result["signatures"][["file_id", "n_tokens"]])
    clusters = spark.createDataFrame(pipeline_result["clusters"])
    pipe = DedupPipeline(spark, CFG, workdir=str(tmp_path))
    reps = pipe.representatives(
        PipelineResult(signatures=sigs, edges=None, clusters=clusters)
    ).toPandas()

    assert len(reps) == len(pipeline_result["clusters"])
    per_cluster = reps.groupby("cluster_id")["is_rep"].sum()
    assert (per_cluster == 1).all()

    # brute-force expectation in pandas
    j = pipeline_result["clusters"].merge(
        pipeline_result["signatures"][["file_id", "n_tokens"]], on="file_id")
    expect = {}
    for cid, grp in j.groupby("cluster_id"):
        mx = grp["n_tokens"].max()
        expect[cid] = int(grp[grp["n_tokens"] == mx]["file_id"].min())
    got = reps[reps.is_rep].set_index("cluster_id")["file_id"].to_dict()
    assert got == expect


def test_run_leaves_no_cached_rdds(spark, small_corpus, tmp_path_factory):
    """A pipeline run must not leak persisted storage: every stage output
    is read back from parquet, and run() releases superseded CC rounds
    inline and sweeps its remaining intermediates, so after each of two
    runs in one session (into two workdirs) the session's persistent-RDD
    map is the one from before the first run: run() releases its own
    storage, without help from the garbage collector."""
    import gc

    files = spark.createDataFrame(small_corpus.files)
    pipes = [DedupPipeline(spark, CFG, workdir=str(
        tmp_path_factory.mktemp("dedup_leak"))) for _ in range(2)]
    # Spark holds the map's RDDs weakly: drop earlier tests' unreachable
    # ones first, so a collection during the runs cannot shrink the map
    gc.collect()
    spark._jvm.System.gc()
    before = pipes[0]._persistent_ids()  # other tests share this session
    for i, pipe in enumerate(pipes):
        pipe.run(files).clusters.count()
        assert pipe._persistent_ids() == before, f"run {i}"
