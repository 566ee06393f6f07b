"""Correctness checks on the program's outputs.

Pipeline workloads: the clusters table is scored against the generator's
truth (pair recall by kind, false merges, cluster precision) and digested,
so every operation of a run must produce the identical clustering. The
catalog workload compares each query with its DuckDB oracle the way the
repository's oracle gate does: row count, column names, and a hash of the
rows after sorting columns by name and rows by value.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from workloads import Inputs


def read_parquet_files(uris: list[str], columns: list[str]) -> pd.DataFrame:
    """Read the parquet files a DataFrame scans (its inputFiles()) without
    a Spark job."""
    paths = [u[len("file:"):] if u.startswith("file:") else u for u in uris]
    tables = [pq.read_table(p, columns=columns) for p in paths]
    if not tables:
        return pd.DataFrame({c: pd.Series(dtype=np.int64) for c in columns})
    return pd.concat([t.to_pandas() for t in tables], ignore_index=True)


def cluster_digest(clusters: pd.DataFrame) -> str:
    """sha256 over the sorted (id, cluster) rows."""
    arr = clusters[["id", "cluster"]].to_numpy(dtype=np.int64)
    arr = arr[np.lexsort((arr[:, 1], arr[:, 0]))]
    return hashlib.sha256(np.ascontiguousarray(arr).tobytes()).hexdigest()[:16]


def score_clusters(clusters: pd.DataFrame, inputs: Inputs) -> dict:
    """clusters(id, cluster) against the workload's truth.

    truth_pair_recall: share of sure truth pairs (exact, contained, and
    near pairs at or above SURE_JACCARD) whose ends share a cluster.
    false_merges: truth-singleton ids placed in a multi-id cluster.
    cluster_precision: share of ids whose predicted cluster holds ids of
    one truth cluster only."""
    label = dict(zip(clusters["id"].to_numpy().tolist(),
                     clusters["cluster"].to_numpy().tolist()))
    tp = inputs.truth_pairs
    same = np.array([a in label and label.get(a) == label.get(b)
                     for a, b in zip(tp["a"].tolist(), tp["b"].tolist())],
                    dtype=bool)
    recall_by_kind = {k: float(same[(tp["kind"] == k).to_numpy()].mean())
                      for k in sorted(tp["kind"].unique())}
    sure = tp["sure"].to_numpy()

    truth = inputs.truth_clusters.rename(columns={"cluster": "truth"})
    j = truth.merge(clusters, on="id", how="left")
    pred_size = j.groupby("cluster")["id"].transform("size")
    truth_size = j.groupby("truth")["id"].transform("size")
    false_merges = int(((truth_size == 1) & (pred_size > 1)).sum())
    truths_per_pred = j.groupby("cluster")["truth"].transform("nunique")
    return {
        "ids_expected": len(truth),
        "ids_out": int(clusters["id"].nunique()),
        "ids_missing": int(j["cluster"].isna().sum()),
        "multi_clusters": int((clusters.groupby("cluster").size() > 1).sum()),
        "truth_pair_recall": float(same[sure].mean()) if sure.any() else 1.0,
        "recall_by_kind": recall_by_kind,
        "false_merges": false_merges,
        "cluster_precision": float((truths_per_pred == 1).mean()),
        "digest": cluster_digest(clusters),
    }


def cluster_failures(score: dict, workload: str) -> list[str]:
    """Reasons the scored clustering is wrong; empty when it passes."""
    bad = []
    if score["ids_missing"] or score["ids_out"] != score["ids_expected"]:
        bad.append(f"clusters cover {score['ids_out']} of "
                   f"{score['ids_expected']} ids")
    for kind in ("exact", "contained"):
        r = score["recall_by_kind"].get(kind)
        if r is not None and r < 1.0:
            bad.append(f"{kind} pair recall {r:.4f} < 1")
    if workload == "repo_scan" and score["false_merges"]:
        bad.append(f"{score['false_merges']} false merges")
    return bad


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form of a query result: columns sorted by name,
    floats rounded to 6 places, rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object or "datetime" in str(s.dtype):
            df[c] = s.astype(str)
        elif "float" in str(s.dtype):
            df[c] = s.round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()[:16]


def oracle_rows(sql: str, docs_path: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
        return con.execute(sql).df()
    finally:
        con.close()


def compare_with_oracle(spark_rows: pd.DataFrame, sql: str,
                        docs_path: str) -> dict:
    ns = normalize(spark_rows)
    no = normalize(oracle_rows(sql, docs_path))
    cols_ok = list(ns.columns) == list(no.columns)
    h_spark = value_hash(ns)
    ok = cols_ok and len(ns) == len(no) and h_spark == value_hash(no)
    return {"rows": len(ns), "oracle_rows": len(no), "cols_ok": cols_ok,
            "hash": h_spark, "ok": bool(ok)}
