"""Traced layer replay: per-layer numbers for one workload.

The benchmark calls each layer's public function itself, on the
workload's own input, and forces the result with an action. A span (name,
start, end, parent, run id) is recorded around each call and its action;
spans stay in memory and are written to .bench_out/ at the end. Every
span also tags its Spark jobs with setJobGroup, and the traced session
writes Spark's event log, so executor-side numbers (task time, GC, spill,
shuffle bytes) are attributed to a layer from the log after the session
stops. Nothing inside the program is instrumented.

Layers, in replay order: functions (compute_signatures_pdf on Arrow-sized
batches, no Spark), signatures (signature_stage), lsh (candidate_pairs,
incremental_candidate_pairs), verify (verify_candidates), containment
(anchor_containment_candidates, verify_containment), components
(connected_components), pipeline (DedupPipeline.run) and queries (the four
catalog near-dup queries). The glue between layers (the exact-sha
pre-cluster and the edge union, as DedupPipeline.run composes them) runs
in spans of its own, so no layer is charged for it.

Faithfulness: the replayed layers must reproduce the traced pipeline's
edge counts by source and cluster digest, which must in turn equal the
untraced loop's; on the catalog workload every replayed query must hash
to the untraced run's result.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager

ARROW_BATCH_BYTES = 524288  # build_session's arrow maxBytesPerBatch


class Tracer:
    """In-memory spans; each span's Spark jobs carry the job group
    '<run_id>/<span name>'."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def group(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1]["name"] if self._stack else None
        rec = {"name": name, "parent": parent, "run_id": self.run_id}
        self._stack.append(rec)
        self.sc.setJobGroup(self.group(name), name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._stack.pop()
            outer = self._stack[-1]["name"] if self._stack else "-"
            self.sc.setJobGroup(self.group(outer), outer)
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        return next(s["seconds"] for s in self.spans if s["name"] == name)


def event_log_by_group(path: str) -> dict[str, dict]:
    """Task metrics from a Spark event log, summed per job group."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "spill_mb": 0.0,
        "shuffle_write_mb": 0.0})
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev.get("Stage IDs", ()):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                agg = out[stage_group.get(ev.get("Stage ID"), "")]
                agg["tasks"] += 1
                agg["task_s"] += m.get("Executor Run Time", 0) / 1e3
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                agg["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)) / 2**20
                agg["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0) / 2**20)
    return dict(out)


def arrow_sized_batches(pdf, max_bytes: int = ARROW_BATCH_BYTES):
    """Split a files frame the way the Arrow byte cap splits it: consecutive
    rows until their content exceeds max_bytes."""
    sizes = pdf["content"].str.len().to_numpy()
    start, acc = 0, 0
    for i, s in enumerate(sizes):
        if acc and acc + s > max_bytes:
            yield pdf.iloc[start:i]
            start, acc = i, 0
        acc += s
    if start < len(pdf):
        yield pdf.iloc[start:]


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def replay_layers(tr: Tracer, spark, files, files_pdf, cfg,
                  workdir: str) -> tuple[dict, dict]:
    """Replay functions .. components as DedupPipeline.run composes them.
    Returns (layer metrics, outputs for the faithfulness check)."""
    from pyspark.sql import functions as F

    from run import buckets_over_cap

    from checks import cluster_digest
    from sparkdedup.operators.components import connected_components
    from sparkdedup.operators.containment import (
        anchor_containment_candidates, verify_containment)
    from sparkdedup.operators.lsh import (candidate_pairs,
                                          incremental_candidate_pairs)
    from sparkdedup.operators.signatures import (compute_signatures_pdf,
                                                 signature_stage)
    from sparkdedup.operators.verify import verify_candidates

    n = len(files_pdf)
    m: dict[str, float] = {}
    batches = list(arrow_sized_batches(files_pdf))
    with tr.span("functions"):
        for b in batches:
            compute_signatures_pdf(b, cfg)
    m["functions.kernel_s"] = tr.seconds("functions")
    m["functions.kernel_files_per_s_core"] = n / m["functions.kernel_s"]

    sig_dir = os.path.join(workdir, "signatures")
    with tr.span("signatures"):
        signature_stage(files, cfg).write.mode("overwrite").parquet(sig_dir)
    m["signatures.stage_s"] = tr.seconds("signatures")
    sigs = spark.read.parquet(sig_dir)

    with tr.span("glue.exact_sha"):
        reps = sigs.groupBy("sha").agg(F.min("file_id").alias("rep"))
        exact = (sigs.join(reps, "sha")
                 .filter(F.col("file_id") != F.col("rep"))
                 .select(F.col("rep").alias("src"),
                         F.col("file_id").alias("dst"))).localCheckpoint()
        rep_sigs = sigs.join(reps.select(F.col("rep").alias("file_id")),
                             "file_id", "left_semi").localCheckpoint()
        n_exact = exact.count()

    with tr.span("lsh"):
        cands = candidate_pairs(rep_sigs, cfg).localCheckpoint()
        n_cands = cands.count()
    m["lsh.s"] = tr.seconds("lsh")
    m["lsh.candidate_pairs"] = n_cands
    m["lsh.buckets_over_cap"] = buckets_over_cap(sigs.inputFiles(),
                                                  cfg.bucket_cap)

    is_delta = F.pmod(F.col("file_id"), F.lit(7)) == 0
    with tr.span("lsh.incremental"):
        n_inc = incremental_candidate_pairs(
            rep_sigs.filter(~is_delta), rep_sigs.filter(is_delta)).count()
    m["lsh.incremental_s"] = tr.seconds("lsh.incremental")
    m["lsh.incremental_pairs"] = n_inc

    with tr.span("verify"):
        near = verify_candidates(cands, rep_sigs, cfg).localCheckpoint()
        n_near = near.count()
    m["verify.s"] = tr.seconds("verify")
    m["verify.pairs_in"] = n_cands
    m["verify.edges_out"] = n_near
    m["verify.yield"] = n_near / n_cands if n_cands else 0.0

    with tr.span("containment.candidates"):
        ccand = anchor_containment_candidates(rep_sigs, cfg).localCheckpoint()
        n_ccand = ccand.count()
    with tr.span("containment.verify"):
        cand_ids = (ccand.select(F.col("src").alias("file_id"))
                    .unionByName(ccand.select(F.col("dst").alias("file_id")))
                    .distinct())
        sig_keys = (sigs.join(cand_ids, "file_id", "left_semi")
                    .select("file_id", "repo", "path", "commit"))
        fid_content = (files.join(F.broadcast(sig_keys),
                                  ["repo", "path", "commit"])
                       .select("file_id", "content"))
        cont = verify_containment(ccand, fid_content, cfg).localCheckpoint()
        n_cont = cont.count()
    m["containment.candidates_s"] = tr.seconds("containment.candidates")
    m["containment.candidates"] = n_ccand
    m["containment.verify_s"] = tr.seconds("containment.verify")
    m["containment.edges"] = n_cont
    m["containment.hit_ratio"] = n_cont / n_ccand if n_ccand else 0.0

    with tr.span("glue.edges"):
        edges = (near.select("src", "dst").unionByName(exact)
                 .unionByName(cont.select("src", "dst"))).localCheckpoint()
        n_edges = edges.count()

    with tr.span("components"):
        clusters, iters = connected_components(edges, sigs.select("file_id"),
                                               cfg)
        clusters = clusters.localCheckpoint()
        clusters.count()
    m["components.s"] = tr.seconds("components")
    m["components.iterations"] = iters
    m["components.edges_in"] = n_edges

    cl = clusters.toPandas().rename(columns={"file_id": "id",
                                             "cluster_id": "cluster"})
    counts = {"sha": n_exact, "lsh": n_near, "containment": n_cont}
    outputs = {"edges_by_source": {k: v for k, v in counts.items() if v},
               "digest": cluster_digest(cl)}
    return m, outputs


def replay_pipeline(tr: Tracer, spark, files, cfg, workdir: str,
                    input_bytes: int) -> tuple[dict, dict]:
    from run import pipeline_outputs

    from checks import cluster_digest
    from sparkdedup.pipeline import DedupPipeline

    pdir = os.path.join(workdir, "pipeline")
    with tr.span("pipeline"):
        res = DedupPipeline(spark, cfg, workdir=pdir).run(files)
    wall = tr.seconds("pipeline")
    m: dict[str, float] = {"pipeline.s": wall}
    stage_sum = 0.0
    for name in ("signatures", "containment_candidates", "edges",
                 "clusters"):
        secs = res.metrics["stages"].get(name, {}).get("seconds", 0.0)
        m[f"pipeline.stage.{name}_s"] = secs
        stage_sum += secs
    m["pipeline.cc_s"] = res.metrics.get("cc_seconds", 0.0)
    m["pipeline.unattributed_s"] = wall - stage_sum - m["pipeline.cc_s"]
    m["pipeline.bytes_written_per_input_byte"] = dir_bytes(pdir) / input_bytes
    out = pipeline_outputs(res)
    return m, {"edges_by_source": out["edges_by_source"],
               "digest": cluster_digest(out["clusters"])}


def replay_queries(tr: Tracer, spark, sf_dir: str) -> tuple[dict, dict]:
    from run import CATALOG_QUERIES

    from checks import normalize, value_hash
    from sparkdedup.queries import QUERIES

    m, hashes = {}, {}
    for name in CATALOG_QUERIES:
        with tr.span(f"queries.{name}"):
            rows = QUERIES[name](spark, sf_dir).toPandas()
        m[f"queries.{name}_s"] = tr.seconds(f"queries.{name}")
        hashes[name] = value_hash(normalize(rows))
    return m, hashes


def trace_run(args, inputs, paths: dict, loop,
              out_dir: str) -> tuple[dict, list[str]]:
    """Build the traced session, replay every layer, read the event log.
    Returns (per-layer metrics with units, faithfulness failures)."""
    from run import WORK, files_frame, metric, setup

    from workloads import CATALOG_WORKLOADS, docs_as_files

    catalog = args.workload in CATALOG_WORKLOADS
    workdir = os.path.join(WORK, f"replay-{args.workload}-{args.seed}")
    shutil.rmtree(workdir, ignore_errors=True)
    spark, _ = setup(paths, args.workload, trace=True)
    app_id = spark.sparkContext.applicationId
    tr = Tracer(spark.sparkContext,
                f"{args.workload}-{args.seed}-{os.getpid()}")
    files = files_frame(spark, paths, args.workload)
    files_pdf = docs_as_files(inputs.table) if catalog else inputs.table
    input_bytes = dir_bytes(paths["documents" if catalog else "files"])
    try:
        with tr.span("replay"):
            layers, rep = replay_layers(tr, spark, files, files_pdf, loop.cfg,
                                        workdir)
            pm, pout = replay_pipeline(tr, spark, files, loop.cfg, workdir,
                                       input_bytes)
            qm, qhash = replay_queries(tr, spark, paths["sf_dir"])
    finally:
        spark.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    layers.update(pm)
    layers.update(qm)

    log = os.path.join(WORK, "eventlog", app_id)
    groups = event_log_by_group(log)
    os.remove(log)
    ours = {g[len(tr.run_id) + 1:]: v for g, v in groups.items()
            if g.startswith(tr.run_id + "/")}
    sig, lsh = ours.get("signatures", {}), ours.get("lsh", {})
    layers["signatures.task_s"] = sig.get("task_s", 0.0)
    layers["signatures.boundary_share"] = (
        1.0 - layers["functions.kernel_s"] / sig["task_s"]
        if sig.get("task_s") else 0.0)
    layers["signatures.shuffle_write_mb"] = sig.get("shuffle_write_mb", 0.0)
    layers["lsh.shuffle_write_mb"] = lsh.get("shuffle_write_mb", 0.0)
    for key in ("tasks", "gc_s", "spill_mb", "shuffle_write_mb"):
        layers[f"spark.{key}"] = sum(v[key] for v in ours.values())

    traced_s = (sum(layers[f"queries.{q}_s"] for q in qhash) if catalog
                else layers["pipeline.s"])
    layers["trace.files_per_s"] = inputs.n_rows / traced_s
    layers["trace.overhead_share"] = (
        1.0 - layers["trace.files_per_s"] / loop.files_per_s())

    failures = []
    if rep != pout:
        failures.append(f"layer replay {rep} differs from the traced "
                        f"pipeline {pout}")
    if catalog:
        for name, h in qhash.items():
            if h != loop.oracle[name]["hash"]:
                failures.append(f"replayed {name} hash {h} differs from "
                                f"the untraced {loop.oracle[name]['hash']}")
    else:
        untraced = {"edges_by_source": loop.pipeline_result["edges_by_source"],
                    "digest": loop.score["digest"]}
        if pout != untraced:
            failures.append(f"traced pipeline {pout} differs from the "
                            f"untraced {untraced}")

    with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
              "w") as f:
        json.dump({"run_id": tr.run_id, "spans": tr.spans,
                   "event_log_by_span": ours, "layers": layers,
                   "faithfulness": {"replay": rep, "pipeline": pout,
                                    "queries": qhash},
                   "failures": failures}, f, indent=1, default=str)
    return ({k: metric(v, LAYER_UNITS[k]) for k, v in layers.items()},
            failures)


LAYER_UNITS = {
    "functions.kernel_files_per_s_core": "files/s",
    "functions.kernel_s": "s",
    "signatures.stage_s": "s",
    "signatures.task_s": "s",
    "signatures.boundary_share": "ratio",
    "signatures.shuffle_write_mb": "MB",
    "lsh.s": "s",
    "lsh.candidate_pairs": "count",
    "lsh.buckets_over_cap": "count",
    "lsh.shuffle_write_mb": "MB",
    "lsh.incremental_s": "s",
    "lsh.incremental_pairs": "count",
    "verify.s": "s",
    "verify.pairs_in": "count",
    "verify.edges_out": "count",
    "verify.yield": "ratio",
    "containment.candidates_s": "s",
    "containment.candidates": "count",
    "containment.verify_s": "s",
    "containment.edges": "count",
    "containment.hit_ratio": "ratio",
    "components.s": "s",
    "components.iterations": "count",
    "components.edges_in": "count",
    "pipeline.s": "s",
    "pipeline.stage.signatures_s": "s",
    "pipeline.stage.containment_candidates_s": "s",
    "pipeline.stage.edges_s": "s",
    "pipeline.stage.clusters_s": "s",
    "pipeline.cc_s": "s",
    "pipeline.unattributed_s": "s",
    "pipeline.bytes_written_per_input_byte": "ratio",
    "queries.minhash_lsh_docs_s": "s",
    "queries.incremental_neardup_docs_s": "s",
    "queries.neardup_clusters_docs_s": "s",
    "queries.cluster_rep_docs_s": "s",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "trace.files_per_s": "files/s",
    "trace.overhead_share": "ratio",
}
