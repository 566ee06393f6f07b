"""spark-submit entry point for the dedup pipeline.

Usage:
  spark-submit --py-files dist/sparkdedup.zip jobs/dedup.py \
      --input <parquet-or-iceberg-table> --workdir /path/ckpt \
      [--partitions N] [--tau 0.7] [--no-containment]

Reads files(repo, path, commit, lang, content) — Iceberg when a catalog is
on the classpath (spark.read.format("iceberg")), parquet otherwise — and
writes signatures/edges/clusters parquet + metrics under
<workdir>/<run_key>/ (config hash + --no-containment). Rerunning with the
same options resumes from the last completed stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--tau", type=float, default=0.70)
    ap.add_argument("--no-containment", action="store_true")
    ap.add_argument("--signature-buckets", type=int, default=1,
                    help="run the signature stage as B independently "
                         "committed bucket jobs (mid-stage resume)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from sparkdedup.config import DedupConfig
    from sparkdedup.pipeline import DedupPipeline
    from sparkdedup.session import build_session

    spark = build_session(app_name="sparkdedup-job", master=args.master)
    cfg = DedupConfig(jaccard_threshold=args.tau)

    from sparkdedup.sources.files_source import read_files_table
    files = read_files_table(spark, args.input)

    pipe = DedupPipeline(spark, cfg, workdir=args.workdir,
                         num_partitions=args.partitions,
                         enable_containment=not args.no_containment,
                         signature_buckets=args.signature_buckets)
    res = pipe.run(files)
    print(json.dumps(res.metrics, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
