"""The sparkdedup benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload repo_scan --seed 1 --seconds 20 --trace 0

Run from the repository root. The workload's inputs are generated from
--seed and written as parquet; the program only reads that parquet. Each
workload runs as a closed loop with one client on local[nproc] from this
single driver process: one operation at a time, the next starting when the
previous one has finished, until --seconds have passed.

  repo_scan, boilerplate_skew  one operation = DedupPipeline.run into a
                               fresh parquet workdir, through materialized
                               clusters
  catalog_neardup              one operation = minhash_lsh_docs,
                               incremental_neardup_docs,
                               neardup_clusters_docs and cluster_rep_docs,
                               each run to count()

Every operation is checked (see checks.py) and recorded, with its run
context, on a stdout line starting with "op ". With --trace 0 the last
stdout line is the end-to-end result; with --trace 1 the loop is followed
by a traced layer replay (replay.py) and the last line carries the
per-layer metrics instead. The exit code is 1 when a check fails and 2
when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

SETUPS = 3          # set-up repetitions per run; setup_s is their median
MIN_OPS = 1         # timed operations per run even when --seconds is short
DRIVER_MEMORY = "1g"
CATALOG_QUERIES = ("minhash_lsh_docs", "incremental_neardup_docs",
                   "neardup_clusters_docs", "cluster_rep_docs")

END_TO_END_UNITS = {
    "files_per_s": "files/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "truth_pair_recall": "ratio",
    "cluster_precision": "ratio",
    "ops_ok_share": "ratio",
}


def _confine_scratch() -> None:
    """Keep every temporary file inside the checkout: Python's tempfile
    (the package zip shipped to workers), the JVM's java.io.tmpdir and
    Spark's local dirs. Must run before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local, OUT):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local


def spark_conf(trace: bool) -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if trace:
        evdir = os.path.join(WORK, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def files_frame(spark, paths: dict, workload: str):
    """The pipeline's files view of a workload's input."""
    from workloads import CATALOG_WORKLOADS

    if workload in CATALOG_WORKLOADS:
        from pyspark.sql import functions as F

        docs = spark.read.parquet(paths["documents"])
        return docs.select(F.lit("docs").alias("repo"),
                           F.col("doc_id").cast("string").alias("path"),
                           F.lit("0").alias("commit"), "lang",
                           F.col("text").alias("content"))
    return spark.read.parquet(paths["files"])


def setup(paths: dict, workload: str, trace: bool):
    """Session build, Python-worker spawn and a tiny warm-up slice."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.signatures import signature_stage
    from sparkdedup.session import build_session

    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{workload}",
                          extra_conf=spark_conf(trace))
    signature_stage(files_frame(spark, paths, workload).limit(64),
                    DedupConfig()).count()
    return spark, time.perf_counter() - t0


def write_inputs(inputs, workload: str, seed: int) -> dict:
    """Parquet the program reads: 2 files per core, so the scan splits
    evenly; the catalog's documents table is one file, as in its testdata
    layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workloads import CATALOG_WORKLOADS, files_as_docs

    base = os.path.join(WORK, f"input-{workload}-{seed}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    paths = {"base": base}
    if workload in CATALOG_WORKLOADS:
        docs = inputs.table
    else:
        paths["files"] = os.path.join(base, "files")
        os.makedirs(paths["files"])
        n_parts = 2 * (os.cpu_count() or 4)
        chunk = max(1, -(-len(inputs.table) // n_parts))
        for i in range(0, len(inputs.table), chunk):
            pq.write_table(
                pa.Table.from_pandas(inputs.table.iloc[i:i + chunk],
                                     preserve_index=False),
                os.path.join(paths["files"], f"part-{i // chunk:05d}.parquet"))
        docs = files_as_docs(inputs.table)
    # the catalog queries read <sf_dir>/documents.parquet
    paths["sf_dir"] = base
    paths["documents"] = os.path.join(base, "documents.parquet")
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   paths["documents"])
    return paths


def buckets_over_cap(sig_files: list[str], cap: int) -> int:
    """LSH buckets with more than `cap` members among the exact-sha
    representatives (the rows the pipeline bands), read from the
    signatures checkpoint with no Spark job."""
    import numpy as np
    import pandas as pd

    from checks import read_parquet_files

    sigs = read_parquet_files(sig_files, ["file_id", "sha", "bands"])
    reps = sigs[sigs["file_id"] == sigs.groupby("sha")["file_id"]
                .transform("min")]
    bands = np.stack(reps["bands"].to_numpy())
    n, nb = bands.shape
    counts = pd.DataFrame({"band": np.tile(np.arange(nb), n),
                           "h": bands.ravel()}).value_counts()
    return int((counts > cap).sum())


def pipeline_op(spark, paths: dict, workdir: str, cfg) -> tuple[float, object]:
    from sparkdedup.pipeline import DedupPipeline

    files = spark.read.parquet(paths["files"])
    t0 = time.perf_counter()
    res = DedupPipeline(spark, cfg, workdir=workdir).run(files)
    return time.perf_counter() - t0, res


def pipeline_outputs(res) -> dict:
    """Clusters and edge counts of a finished run, read from its parquet
    checkpoints."""
    from checks import read_parquet_files

    clusters = read_parquet_files(res.clusters.inputFiles(),
                                  ["file_id", "cluster_id"]).rename(
        columns={"file_id": "id", "cluster_id": "cluster"})
    edges = read_parquet_files(res.edges.inputFiles(), ["source"])
    return {"clusters": clusters,
            "edges_by_source": {k: int(v) for k, v in
                                edges["source"].value_counts().items()}}


def catalog_op(spark, paths: dict) -> tuple[float, dict]:
    from sparkdedup.queries import QUERIES

    per_query = {}
    t0 = time.perf_counter()
    for name in CATALOG_QUERIES:
        tq = time.perf_counter()
        QUERIES[name](spark, paths["sf_dir"]).count()
        per_query[name] = round(time.perf_counter() - tq, 4)
    return time.perf_counter() - t0, per_query


def catalog_oracle_check(spark, paths: dict) -> dict:
    """Each catalog query against its oracle_sql(), once per run, outside
    the timed window. Returns per-query verdicts and the clustering."""
    from checks import compare_with_oracle
    from sparkdedup.queries import ORACLES, QUERIES

    out, clusters = {}, None
    for name in CATALOG_QUERIES:
        rows = QUERIES[name](spark, paths["sf_dir"]).toPandas()
        out[name] = compare_with_oracle(rows, ORACLES[name],
                                        paths["documents"])
        if name == "neardup_clusters_docs":
            clusters = rows.rename(columns={"doc_id": "id",
                                            "cluster_id": "cluster"})
    return {"queries": out, "clusters": clusters}


class Loop:
    """The closed loop: runs operations back to back for `seconds`,
    checks each, and keeps one record per operation."""

    def __init__(self, spark, inputs, paths: dict, workload: str):
        from sparkdedup.config import DedupConfig

        self.spark, self.inputs, self.paths = spark, inputs, paths
        self.workload = workload
        self.cfg = DedupConfig()
        self.records: list[dict] = []
        self.failures: list[str] = []
        self.digests: set[str] = set()
        self.score: dict | None = None
        self.shape = dict(inputs.shape)
        self.pipeline_result: dict | None = None
        self.warmup: dict | None = None
        self.oracle: dict = {}

    def run(self, seconds: float, rss) -> None:
        """One untimed warm-up operation (JIT, worker caches, JVM heap
        growth), then timed operations until `seconds` have passed."""
        from workloads import CATALOG_WORKLOADS

        catalog = self.workload in CATALOG_WORKLOADS
        if catalog:
            # the once-per-run oracle comparison runs every query, so it
            # also serves as the catalog's warm-up
            self._check_catalog()
        else:
            self.warmup = self._op("warmup", rss, catalog)
        t_start = time.perf_counter()
        while (len(self.records) < MIN_OPS
               or time.perf_counter() - t_start < seconds):
            self.records.append(self._op(len(self.records), rss, catalog))
        if len(self.digests) > 1:
            self.failures.append(
                f"cluster digest differs across operations: {self.digests}")
        if (self.workload == "boilerplate_skew"
                and not self.shape.get("lsh.buckets_over_cap")):
            self.failures.append("boilerplate_skew has no LSH bucket over "
                                 "bucket_cap; the mega-bucket branch never ran")

    def _check_catalog(self) -> None:
        from checks import cluster_failures, score_clusters

        chk = catalog_oracle_check(self.spark, self.paths)
        self.oracle = chk["queries"]
        for name, v in chk["queries"].items():
            if not v["ok"]:
                self.failures.append(f"{name} differs from its oracle: {v}")
        self.score = score_clusters(chk["clusters"], self.inputs)
        print("oracle " + json.dumps({"queries": self.oracle,
                                      "score": self.score}), flush=True)
        self.digests.add(self.score["digest"])
        self.failures += cluster_failures(self.score, self.workload)

    def _op(self, i, rss, catalog: bool) -> dict:
        from checks import cluster_failures, score_clusters
        from sysmon import run_context, tree_cpu_s

        rec = {"op": i, "started_s": round(time.perf_counter() - T_START, 2),
               "before": run_context()}
        # a fresh workdir: DedupPipeline.run resumes any stage whose
        # checkpoint exists, even one left by another input
        workdir = os.path.join(WORK, f"op-{self.workload}-{os.getpid()}-{i}")
        shutil.rmtree(workdir, ignore_errors=True)
        rss.reset()
        cpu0 = tree_cpu_s(os.getpid())
        try:
            if catalog:
                secs, rec["query_s"] = catalog_op(self.spark, self.paths)
            else:
                secs, res = pipeline_op(self.spark, self.paths, workdir,
                                        self.cfg)
            rec["seconds"] = secs
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["peak_rss_mb"] = rss.peak_mb
        except Exception:  # one failed operation must not end the run
            rec["error"] = traceback.format_exc(limit=3)
        rec["after"] = run_context()
        if "error" not in rec and not catalog:
            out = pipeline_outputs(res)
            if "lsh.buckets_over_cap" not in self.shape:
                self.shape["lsh.buckets_over_cap"] = buckets_over_cap(
                    res.signatures.inputFiles(), self.cfg.bucket_cap)
            self.score = score_clusters(out["clusters"], self.inputs)
            self.digests.add(self.score["digest"])
            rec["score"] = self.score
            rec["edges_by_source"] = out["edges_by_source"]
            rec["stage_s"] = {k: v.get("seconds") for k, v in
                              res.metrics["stages"].items()}
            rec["cc_iterations"] = res.metrics.get("cc_iterations")
            for why in cluster_failures(self.score, self.workload):
                self.failures.append(f"op {i}: {why}")
            self.pipeline_result = out
        shutil.rmtree(workdir, ignore_errors=True)
        rec["shape"] = self.shape
        print("op " + json.dumps(rec, default=str), flush=True)
        return rec

    @property
    def ok_records(self) -> list[dict]:
        return [r for r in self.records if "error" not in r]

    def files_per_s(self) -> float:
        return statistics.median(self.inputs.n_rows / r["seconds"]
                                 for r in self.ok_records)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def stop_spark(spark) -> None:
    if spark is not None:
        spark.stop()


def shutdown_jvm() -> None:
    """Stop the JVM the py4j gateway launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args) -> int:
    from sysmon import PeakRss
    from workloads import GENERATORS

    inputs = GENERATORS[args.workload](args.seed, args.scale)
    paths = write_inputs(inputs, args.workload, args.seed)
    t_inputs = time.perf_counter() - T_START
    spark = None
    try:
        if args.trace:
            spark, _ = setup(paths, args.workload, trace=False)
            setup_times = []
        else:
            setup_times = []
            for k in range(SETUPS):
                spark, secs = setup(paths, args.workload, trace=False)
                setup_times.append(secs)
                if k < SETUPS - 1:
                    stop_spark(spark)
            print("setup " + json.dumps({
                "inputs_s": round(t_inputs, 2), "setup_s": setup_times}),
                flush=True)
        loop = Loop(spark, inputs, paths, args.workload)
        with PeakRss() as rss:
            # a traced run needs only the untraced baseline: warm-up and
            # one timed operation
            loop.run(0 if args.trace else args.seconds, rss)
        ops = ([loop.warmup] if loop.warmup else []) + loop.records
        attempted = len(ops)
        failed = sum("error" in r for r in ops)
        if not loop.ok_records:
            loop.failures.append("every operation failed")
        if args.trace:
            from replay import trace_run

            stop_spark(spark)
            spark = None
            metrics, failures = trace_run(args, inputs, paths, loop, OUT)
            loop.failures += failures
            attempted += 1
        elif loop.ok_records:
            metrics = {
                "files_per_s": loop.files_per_s(),
                "setup_s": statistics.median(setup_times),
                "peak_rss_mb": statistics.median(
                    r["peak_rss_mb"] for r in loop.ok_records),
                "truth_pair_recall": loop.score["truth_pair_recall"],
                "cluster_precision": loop.score["cluster_precision"],
                "ops_ok_share": 1.0 - failed / attempted,
            }
            metrics = {k: metric(v, END_TO_END_UNITS[k])
                       for k, v in metrics.items()}
        else:
            metrics = {}
    finally:
        stop_spark(spark)
        shutdown_jvm()
        shutil.rmtree(paths["base"], ignore_errors=True)
    for why in loop.failures:
        print("CHECK FAILED: " + why, file=sys.stderr)
    result = {"correct": not loop.failures, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["repo_scan", "boilerplate_skew",
                             "catalog_neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test shrinks it)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import sparkdedup
    except ImportError as e:
        print(f"cannot import the program (run from the repository root): "
              f"{e}", file=sys.stderr)
        return 2
    if not os.path.abspath(sparkdedup.__file__).startswith(ROOT + os.sep):
        print(f"sparkdedup was imported from {sparkdedup.__file__}, not from "
              f"this checkout", file=sys.stderr)
        return 2
    _confine_scratch()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
