"""Fixed cost of a Python task: warm trivial mapInArrow jobs.

Builds a local[4] session with sparkdedup.session.build_session, warms
the Python workers, then times JOBS trivial 4-task mapInArrow jobs (each
task imports sparkdedup and passes its one batch through) and prints

  job_s     median wall seconds of one such job
  workers   per worker pid: zip directory reads (zipimport._read_directory
            calls) made by one importlib.invalidate_caches(), the call
            pyspark's worker makes at the start of every task

A worker set-up regression shows as a rising job_s and a read count
above 0 (an eager zipimporter re-reads pyspark.zip and the spark-core jar
per task, 12 or more reads). Usage:

    python tools/pytask_probe.py [--jobs 10]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sparkdedup.session import build_session  # noqa: E402

TASKS = 4


def passthrough(batches):
    import sparkdedup  # noqa: F401  (installs the worker set-up)

    yield from batches


def count_reads(batches):
    import importlib
    import os
    import zipimport

    import pyarrow as pa

    import sparkdedup  # noqa: F401

    reads = 0
    eager = zipimport._read_directory

    def counted(archive):
        nonlocal reads
        reads += 1
        return eager(archive)

    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = eager
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()],
                                      "reads": [reads]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=10)
    args = ap.parse_args()
    spark = build_session(app_name="pytask_probe", master=f"local[{TASKS}]",
                          shuffle_partitions=TASKS)
    df = spark.range(0, 4 * TASKS, numPartitions=TASKS)
    job = df.mapInArrow(passthrough, df.schema)
    for _ in range(3):  # start and warm every worker
        job.count()
    secs = []
    for _ in range(args.jobs):
        t0 = time.perf_counter()
        job.count()
        secs.append(time.perf_counter() - t0)
    rows = df.mapInArrow(count_reads, "pid long, reads long").collect()
    print(f"job_s {statistics.median(secs):.3f} "
          f"(min {min(secs):.3f}, max {max(secs):.3f}, {args.jobs} jobs of "
          f"{TASKS} tasks)")
    by_pid: dict[int, list[int]] = {}
    for r in rows:
        by_pid.setdefault(r.pid, []).append(r.reads)
    print("workers " + " ".join(f"{pid}:{'/'.join(map(str, n))}"
                                for pid, n in sorted(by_pid.items())))
    spark.stop()


if __name__ == "__main__":
    main()
