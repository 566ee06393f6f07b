"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, schema
width, and an order-insensitive value hash (columns sorted by name, rows
sorted by all values). Usage:

    python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

SF_DIR = os.environ.get("SPARK_GRAFT_GATE_SF_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
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


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()[:16]


def main(argv):
    from sparkdedup.queries import ORACLES, QUERIES
    from sparkdedup.session import build_session

    names = argv or list(QUERIES)
    spark = build_session(app_name="oracle-check", master="local[8]",
                          shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"{name:28s} SPARK ERROR: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception as e:
            print(f"{name:28s} DUCKDB ERROR: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        ns, no = normalize(sdf), normalize(odf)
        ok_rows = len(ns) == len(no)
        ok_cols = list(ns.columns) == list(no.columns)
        ok_hash = ok_rows and ok_cols and value_hash(ns) == value_hash(no)
        status = "OK" if ok_hash else "MISMATCH"
        print(f"{name:28s} rows={len(ns):6d}/{len(no):6d} cols_ok={ok_cols} "
              f"hash={'OK' if ok_hash else 'FAIL'}  {time.time()-t0:5.1f}s")
        if not ok_hash:
            failures.append(name)
            if not ok_cols:
                print("   spark cols:", list(ns.columns))
                print("   duck  cols:", list(no.columns))
            if ok_cols and ok_rows:
                neq = (ns != no) & ~(ns.isna() & no.isna())
                bad = neq.any(axis=1)
                print("   first diffs (spark vs duck):")
                print(pd.concat([ns[bad].head(3), no[bad].head(3)],
                                keys=["spark", "duck"]))
    print("\nFAILURES:", failures or "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
