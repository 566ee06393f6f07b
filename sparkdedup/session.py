"""SparkSession builder tuned for the dedup pipeline.

Local-mode settings mirror what a multi-executor deployment would set
per-executor; the partitioning logic in the pipeline itself is what carries
to a real cluster (explicit repartition by file_id, AQE skew handling on).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import weakref

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

# Janino-generated classes cached per JVM. Spark's default of 100 is below
# one pipeline run's working set, and each run visits its classes in the
# same order, so the LRU cache evicted each class before its next use and
# every warm run recompiled nearly all of them (~1 s of a 5-7 s run on
# 4 cores).
# Distinct classes a cold JVM compiles (CodegenMetrics): one
# DedupPipeline.run 124 (repo_scan) / 169 (boilerplate_skew), the 39
# catalog queries at sf0.01 536, all of these in one JVM (bench.py's
# shape) ~710. 2000 is ~3x that, room for plan growth. The conf is
# static, read once per JVM when it first generates code: a JVM whose
# first session another builder made keeps 100.
CODEGEN_CACHE_ENTRIES = 2000

# Arrow batch caps: the row cap only binds for skinny rows; the real
# governor is the 512KB byte cap, which keeps batches cache-resident for
# fat document kernels (a 64-row cap approximated this by rows and taxed
# every skinny-row sketch agg with ~9,400 Arrow batches per sf0.1
# lineitem scan). Measured sweep (warm medians, sf0.1, local[32]): 64-row
# vs 512KB-cap = tdigest 7.2->0.9s, req 8.5->1.2s, kll 2.6->1.4s, and the
# fat kernels improve too (minhash_lsh 6.1->3.5s, signature stage
# 2.2->1.1s); 1MB/2MB caps regress minhash_lsh monotonically (4.8/5.5s),
# so 512KB is the cache-residency sweet spot.
ARROW_BATCH_ROWS = 65536
ARROW_BATCH_BYTES = 524288


def build_session(
    app_name: str = "sparkdedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 4
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    # Large numpy temporaries default to mmap/munmap per allocation in
    # glibc (>128KB threshold); with many concurrent python workers that
    # causes page-fault + THP-compaction storms. Keep big blocks on the
    # heap so they are reused.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    # match shuffle width to parallelism in local mode (not the 200 default)
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local["):-1]
            shuffle_partitions = cores if inner == "*" else int(inner)
        else:
            shuffle_partitions = cores
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_BATCH_BYTES))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # local mode: the driver JVM hosts all executor threads' shuffle
        # and Arrow buffers — size it like the whole cluster, not a driver
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the cache is keyed by source text, and AQE numbers codegen stages
        # in planning order, which varies between runs: a stage id in the
        # class name made the same code miss (explain output keeps the id)
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    b = b.config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    b = b.config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
    conf = dict(extra_conf or {})
    conf.update(_local_fs_conf(master, conf))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


_LOCAL_FS = "sparkdedup.jvm.LocalFileSystem"


def _local_fs_conf(master: str, conf: dict) -> dict:
    """Settings that serve file:// with jvm/LocalFileSystem.java (no
    forked chmod per file written): on a local[N] master, unless conf sets
    the file system or the class path, when javac builds the class and the
    JVM, launched by this build or already running, can load it."""
    if not master.startswith("local[") or conf.keys() & {
            "spark.hadoop.fs.file.impl", "spark.driver.extraClassPath"}:
        return {}
    src = os.path.join(os.path.dirname(__file__), "jvm/LocalFileSystem.java")
    with open(src, "rb") as f:
        tag = hashlib.sha1(f.read()).hexdigest()[:12]
    out = os.path.join(tempfile.gettempdir(), f"sparkdedup_jvm_{tag}")
    if not os.path.isdir(out):
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
        tmp = tempfile.mkdtemp(dir=os.path.dirname(out))
        try:  # --release 17: loadable by any JVM Spark 4 runs on
            subprocess.run(["javac", "--release", "17", "-cp", jars, "-d", tmp,
                            src], check=True, capture_output=True)
            os.rename(tmp, out)  # atomic; a concurrent build may win
        except (OSError, subprocess.CalledProcessError):
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(out):
                return {}
    if SparkContext._jvm is None:  # this build launches the JVM
        return {"spark.driver.extraClassPath": out,
                "spark.hadoop.fs.file.impl": _LOCAL_FS}
    try:
        SparkContext._jvm.java.lang.Class.forName(_LOCAL_FS)
    except Exception:  # a running JVM started without it on its class path
        return {}
    return {"spark.hadoop.fs.file.impl": _LOCAL_FS}


# SparkContexts that already have the package zip, held by identity and
# weakly: a context created after another one stops ships again, even if it
# reuses the stopped one's address (an id() memo would skip it)
_SHIPPED: weakref.WeakSet = weakref.WeakSet()


def _ship_package(spark: SparkSession) -> None:
    """Make sparkdedup importable on python workers regardless of the
    driver's cwd (equivalent to spark-submit --py-files). Ships once per
    SparkContext.

    The zip is named after the package's absolute path, so two checkouts
    that share a temp dir never ship each other's code; it is rebuilt when
    a source is newer than it or its members are not the current sources
    (a module deleted from the package must not stay importable)."""
    import zipfile

    sc = spark.sparkContext
    if sc in _SHIPPED:
        return
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "sparkdedup")
    sources = {os.path.relpath(os.path.join(root, n), repo)
               for root, _dirs, names in os.walk(pkg)
               for n in names if n.endswith(".py")}
    tag = hashlib.sha1(pkg.encode("utf-8")).hexdigest()[:12]
    zpath = os.path.join(tempfile.gettempdir(), f"sparkdedup_pkg_{tag}.zip")
    newest = max(os.path.getmtime(os.path.join(repo, f)) for f in sources)
    fresh = os.path.exists(zpath) and os.path.getmtime(zpath) >= newest
    if fresh:
        with zipfile.ZipFile(zpath) as z:
            fresh = set(z.namelist()) == sources
    if not fresh:
        with zipfile.ZipFile(zpath, "w") as z:
            for rel in sorted(sources):
                z.write(os.path.join(repo, rel), rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(sc)
