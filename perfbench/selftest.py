"""Self-test of the benchmark, run from the repository root:

    python3 perfbench/selftest.py

1. A corrupted cluster output must fail the correctness check: a truth
   singleton merged into another cluster, and an exact pair split apart
   (no Spark; a fraction of a second).
2. Every workload at a tiny scale, with --trace 0 and --trace 1, must
   print a correct result carrying exactly the metrics BENCHMARK.json
   names, each with its unit (about 8 minutes). This includes
   catalog_neardup, which BENCHMARK.json leaves out.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_corruption_fails() -> None:
    from checks import cluster_failures, score_clusters
    from workloads import repo_scan

    inputs = repo_scan(seed=3, scale=0.1)
    good = inputs.truth_clusters.copy()
    score = score_clusters(good, inputs)
    assert not cluster_failures(score, "repo_scan"), score
    assert score["cluster_precision"] == 1.0 and score["truth_pair_recall"] == 1.0

    sizes = good.groupby("cluster")["id"].transform("size")
    singleton = good.index[sizes == 1][0]
    merged = good.copy()
    merged.loc[singleton, "cluster"] = good.loc[good.index[sizes > 1][0],
                                                "cluster"]
    bad = score_clusters(merged, inputs)
    assert bad["false_merges"] == 1 and bad["cluster_precision"] < 1.0, bad
    assert cluster_failures(bad, "repo_scan"), "a false merge passed"
    assert bad["digest"] != score["digest"]

    exact = inputs.truth_pairs[inputs.truth_pairs["kind"] == "exact"].iloc[0]
    split = good.copy()
    split.loc[split["id"] == exact["b"], "cluster"] = split["cluster"].max() + 1
    bad = score_clusters(split, inputs)
    assert bad["recall_by_kind"]["exact"] < 1.0, bad
    assert cluster_failures(bad, "repo_scan"), "a split exact pair passed"
    print("corrupted cluster outputs fail the check: ok")


def check_metrics_emitted() -> None:
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in WORKLOADS:
            cmd = spec["command"] + [
                "--workload", w, "--seed", "5", "--seconds", "1",
                "--trace", str(trace), "--scale", "0.1"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            assert proc.returncode == 0, proc.stderr[-3000:]
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert result["correct"] and result["failed"] == 0, result
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (w, trace, set(got) ^ set(want))
            print(f"{w} --trace {trace}: all {len(want)} metrics "
                  f"emitted: ok", flush=True)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    check_corruption_fails()
    check_metrics_emitted()
