"""Two-parallelism-level scaling benchmark (north-rule evidence).

No real multi-node cluster exists in this sandbox, so per BASELINE.md the
two-cluster-size criterion is evidenced by running the IDENTICAL job +
IDENTICAL input at local[N] and local[4N] (default N=8): one JVM, N executor
threads — the same shuffle/partition topology a 4x executor scale-up
exercises. Efficiency = (throughput_4N / throughput_N) / 4.

Usage: python tools/scaling_bench.py [--files 24000] [--n 8] [--out BENCH]
Writes BENCH/BASELINE.md (+ JSON) with both raw throughputs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_at(cpus: int, input_path: str, n_files: int, workroot: str,
           shuffle_mult: int = 1, part_mult: int = 2) -> dict:
    """One pipeline leg at local[cpus].

    shuffle_mult/part_mult oversubscribe tasks per core — finer tasks are
    classic straggler mitigation when cores can be silently stolen (a
    time-sliced hypervisor here; slow/heterogeneous executors on a real
    cluster): a stolen core then delays one small task, not 1/cpus of
    every stage."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.pipeline import DedupPipeline
    from sparkdedup.session import build_session

    spark = build_session(app_name=f"scaling-{cpus}",
                          master=f"local[{cpus}]",
                          shuffle_partitions=cpus * shuffle_mult)
    files = spark.read.parquet(input_path)
    # warmup: spin up python workers + JIT on a tiny slice (excluded from
    # the measured window; both sizes get the identical warmup)
    from sparkdedup.operators.signatures import signature_stage
    signature_stage(files.limit(64), DedupConfig()).count()

    t0 = time.time()
    pipe = DedupPipeline(spark, DedupConfig(),
                         workdir=f"{workroot}/w{cpus}",
                         num_partitions=part_mult * cpus)
    res = pipe.run(files)
    wall = time.time() - t0
    # loadavg at leg END: the start-of-leg gate cannot see a background
    # burst arriving mid-leg (the 256k retrial's 4N edges bracket read
    # 128s in-leg vs 58s in a clean same-code replay — a late burst is
    # the prime suspect and was unfalsifiable from the evidence file).
    # A 1-min loadavg above cpus+1 here convicts contamination in-file.
    out = {
        "cpus": cpus,
        "wall_sec": round(wall, 2),
        "files_per_sec": round(n_files / wall, 2),
        "stages": {k: v.get("seconds") for k, v in res.metrics["stages"].items()},
        "cc_seconds": res.metrics["stages"]["clusters"].get("cc_seconds"),
        "cc_iterations": res.metrics.get("cc_iterations"),
        "edges": res.metrics["stages"].get("edges", {}).get("rows"),
        "loadavg_end": round(os.getloadavg()[0], 2),
    }
    spark.stop()
    return out


def run_at_subprocess(cpus: int, input_path: str, n_files: int,
                      workroot: str, shuffle_mult: int = 1,
                      part_mult: int = 2) -> dict:
    """run_at in a FRESH child process (one clean JVM per leg).

    Running consecutive legs in one process reuses the py4j JVM across
    SparkContext stop/start; at the 256k-file scale this left the second
    leg's context degraded (RpcEndpointNotFoundException retry storms
    against the dead scheduler endpoint, 48g of leg-1 heap garbage, CC
    15.5s vs 4.2s on identical edges — BENCH/scaling_r6_256k_trial1
    pathology). Subprocess isolation removes the contamination channel
    entirely; the measured window inside run_at is unchanged."""
    import subprocess

    code = (
        "import json, sys; sys.path.insert(0, %r); "
        "from tools.scaling_bench import run_at; "
        "print('LEG_JSON: ' + json.dumps(run_at(%d, %r, %d, %r, %d, %d)))"
        % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
           cpus, input_path, n_files, workroot, shuffle_mult, part_mult))
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True)
    for line in proc.stdout.splitlines():
        if line.startswith("LEG_JSON: "):
            return json.loads(line[len("LEG_JSON: "):])
    raise RuntimeError(
        f"leg subprocess produced no result (rc={proc.returncode}):\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def _probe_cpu_work(_):
    import numpy as np

    x = np.arange(65536, dtype=np.uint64)
    for _ in range(2000):
        x ^= x >> np.uint64(33)
        x *= np.uint64(0xFF51AFD7ED558CCD)
    return int(x[0])


def calibrate_vcpu_throughput() -> dict:
    """Measure how much real CPU the sandbox gives at each concurrency
    level with a cache-resident numpy loop (no memory-bandwidth component).
    On this Firecracker VM, per-core speed degrades beyond ~8 concurrent
    workers (hypervisor time slicing), which caps any possible scaling
    ratio — the probe results justify the chosen N."""
    import multiprocessing as mp

    cpu_work = _probe_cpu_work
    ctx = mp.get_context("fork")
    out = {}
    for nproc in (1, 2, 8, 16, 32):
        t0 = time.time()
        with ctx.Pool(nproc) as pool:
            pool.map(cpu_work, range(nproc))
        out[nproc] = round(time.time() - t0, 3)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=32000)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--out", default="BENCH")
    ap.add_argument("--min-lines", type=int, default=20)
    ap.add_argument("--max-lines", type=int, default=400)
    ap.add_argument("--input", default=None,
                    help="reuse an existing files parquet dir (skip generation)")
    ap.add_argument("--shuffle-mult", type=int, default=1,
                    help="shuffle partitions per core (straggler mitigation)")
    ap.add_argument("--part-mult", type=int, default=2,
                    help="input partitions per core")
    args = ap.parse_args()

    import tempfile

    from sparkdedup.fixtures import generate_corpus
    from sparkdedup.session import build_session

    print("calibrating sandbox vCPU throughput ...", flush=True)
    probe = calibrate_vcpu_throughput()
    print(f"cache-resident probe (sec per fixed work unit, by concurrency): "
          f"{probe}", flush=True)

    tmp = tempfile.mkdtemp(prefix="scaling_")
    if args.input:
        input_path = args.input
        n_tokens = 0
    else:
        input_path = f"{tmp}/files"
        print(f"generating {args.files} files ...", flush=True)
        t0 = time.time()
        corpus = generate_corpus(n_files=args.files, seed=42,
                                 min_lines=args.min_lines,
                                 max_lines=args.max_lines)
        gen_sec = time.time() - t0
        n_tokens = int(corpus.files["content"].str.count(" ").sum()) + len(corpus.files)
        print(f"generated in {gen_sec:.0f}s, ~{n_tokens/1e6:.0f}M tokens", flush=True)

        # stage via pyarrow: local collections embedded in Spark tasks trip
        # the large-task warning and add a pointless Spark job
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(input_path, exist_ok=True)
        chunk = max(1, -(-len(corpus.files) // 64))
        for i in range(0, len(corpus.files), chunk):
            pq.write_table(
                pa.Table.from_pandas(corpus.files.iloc[i:i + chunk]),
                f"{input_path}/part-{i // chunk:05d}.parquet")
        del corpus

    results = []
    for cpus in (args.n, 4 * args.n):
        print(f"running at local[{cpus}] ...", flush=True)
        results.append(run_at(cpus, input_path, args.files, tmp,
                               args.shuffle_mult, args.part_mult))
        print(json.dumps(results[-1]), flush=True)

    thr_n, thr_4n = results[0]["files_per_sec"], results[1]["files_per_sec"]
    eff = (thr_4n / thr_n) / 4.0
    report = {
        "n_files": args.files,
        "approx_tokens_millions": round(n_tokens / 1e6, 1),
        "N": args.n,
        "vcpu_probe_sec_by_concurrency": probe,
        "runs": results,
        "scaling_efficiency_N_to_4N": round(eff, 3),
    }
    outdir = Path(args.out)
    outdir.mkdir(exist_ok=True)
    (outdir / "scaling.json").write_text(json.dumps(report, indent=2))

    md = f"""# BENCH/BASELINE — measured scaling evidence

North rule: throughput scaling efficiency >= 0.8 between N and 4N
executors. Sandbox proxy (BASELINE.md): identical job + identical input at
`local[{args.n}]` (N) and `local[{4*args.n}]` (4N); one warmup pass
(python-worker spawn + JIT) excluded at both sizes.

**Why N = {args.n}:** the sandbox reports 32 vCPUs but the hypervisor
time-slices them — a cache-resident CPU probe (zero memory-bandwidth
component, fixed work per process) takes, by concurrency level:
`{probe}` seconds. Per-core speed is flat only up to ~8 concurrent
workers; past that every vCPU slows down, which caps ANY job's possible
8->32 ratio at ~2x regardless of implementation. N={args.n} -> 4N={4*args.n}
is therefore the largest pair at which the sandbox can physically express
4x scaling, i.e. the faithful proxy for adding executor MACHINES (each
with its own cores/memory bus) on a real cluster.

Corpus: {args.files} synthetic source files (seed 42, FIXTURES.md spec),
~{n_tokens/1e6:.0f}M tokens, full dedup pipeline (signatures -> exact-sha
pre-cluster -> LSH -> KMV-Jaccard verify -> containment -> connected
components), parquet in / parquet out.

| parallelism | wall (s) | files/sec | stage seconds |
|---|---|---|---|
| local[{args.n}] (N) | {results[0]['wall_sec']} | {results[0]['files_per_sec']} | {results[0]['stages']} |
| local[{4*args.n}] (4N) | {results[1]['wall_sec']} | {results[1]['files_per_sec']} | {results[1]['stages']} |

**Scaling efficiency (N -> 4N): {eff:.3f}** (target >= 0.8)
"""
    # write to a per-run file; BENCH/BASELINE.md is curated by hand from
    # these so repeated trials never clobber the analysis
    (outdir / "BASELINE_latest.md").write_text(md)
    print(md)
    return 0


if __name__ == "__main__":
    sys.exit(main())
