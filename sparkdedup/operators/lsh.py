"""LSH banding -> candidate pairs, with mega-bucket skew handling.

Spark-first design: banding is a posexplode, bucketing is a groupBy, pair
generation is a self-equi-join on (band, band_hash) — all Catalyst-planned
shuffles. The skew device the optimizer CANNOT provide (SURVEY.md §4):
boilerplate mega-buckets blow up O(|bucket|^2) pairs, so buckets above
`bucket_cap` switch to windowed neighbor pairing over a simhash ordering
(row_number + bounded-offset self-join) which generates O(|bucket| * w)
pairs and never collects a bucket to one node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig


def band_table(signatures: DataFrame) -> DataFrame:
    """signatures -> (file_id, band, band_hash, simhash)."""
    return signatures.select(
        "file_id", "simhash",
        F.posexplode("bands").alias("band", "band_hash"),
    )


def grouped_rank_scalable(df: DataFrame, group_cols: list[str],
                          order_cols: list[str], num_partitions: int,
                          rank_col: str = "rn") -> DataFrame:
    """row_number() over (PARTITION BY group ORDER BY order) WITHOUT ever
    gathering a group into one task — the scale form for groups that can
    exceed a partition (a 10^7-row boilerplate mega-bucket at 100 TB would
    otherwise ship whole into the single task that sorts it).

    Three bounded steps reconstruct the exact global rank:
      1. range-repartition on (group, order) — each output partition holds
         a contiguous slice of the total order, sized by the partitioner,
         never by the group;
      2. local row_number within (partition_id, group) — every window
         gather is bounded by the range-partition size;
      3. per-(partition, group) counts (a tiny side table: one row per
         group-slice) prefix-summed over partition_id and broadcast back:
         global rank = local rank + offset of same-group rows in lower
         partitions.
    Because range partitions are contiguous in the sort key, the stitched
    rank equals the single-window row_number exactly (order_cols + the
    caller's key must form a total order within each group, as row_number
    determinism already requires).

    The counts branch and the join branch BOTH read `_pid`, so they must
    see the SAME physical partitioning. Spark's exchange reuse usually
    guarantees that, but RangePartitioner samples its boundaries with a
    lineage-dependent seed — if the exchange were ever recomputed per
    branch (reuse disabled, AQE replan, upstream plan change), `_pid`
    could disagree between branches and ranks would silently corrupt. So
    the range-partitioned frame is materialized once via localCheckpoint
    BEFORE branching: both branches then scan the same pinned RDD (plan
    shows `Scan ExistingRDD`, zero range exchanges downstream — plan-
    guarded in test_lsh_caps.py). Trade: a lost executor must recompute
    from the checkpoint blocks rather than lineage — acceptable for a
    bounded intermediate, same trade components.py already makes."""
    keys = group_cols + order_cols
    d = (df.repartitionByRange(num_partitions, *[F.col(c) for c in keys])
           .withColumn("_pid", F.spark_partition_id())
           .localCheckpoint(eager=False))
    wloc = (Window.partitionBy("_pid", *group_cols)
            .orderBy(*[F.col(c) for c in order_cols]))
    d = d.withColumn("_lrn", F.row_number().over(wloc))
    cnt = d.groupBy("_pid", *group_cols).agg(F.count("*").alias("_c"))
    woff = (Window.partitionBy(*group_cols).orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1))
    off = cnt.withColumn(
        "_off", F.coalesce(F.sum("_c").over(woff), F.lit(0))).drop("_c")
    return (d.join(F.broadcast(off), ["_pid"] + group_cols)
             .withColumn(rank_col, (F.col("_lrn") + F.col("_off"))
                         .cast("int"))
             .drop("_pid", "_lrn", "_off"))


def candidate_pairs(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """All LSH candidate pairs (src < dst), mega-buckets capped.

    Returns (src, dst) distinct.
    """
    # pin the SKINNY band table once: without this the signature kernel +
    # posexplode re-runs for every consumer — the has_big probe's sizes
    # aggregate, BOTH sides of the pair self-join (different projections,
    # so no exchange reuse), and the mega-bucket branch — i.e. up to 4
    # full kernel passes per invocation (measured 3.7s fused candidates
    # at sf1.0, ~2.5s of it repeated kernel work). The checkpoint holds
    # only (file_id, simhash, band, band_hash) longs, ~32MB at sf1.0.
    # localCheckpoint, NOT cache: a .cache() here leaked one CacheManager
    # entry per invocation (never unpersisted — r6 verdict nit #1).
    # eager=False defers only the final stage: under AQE the call itself
    # runs the upstream query stages (3 jobs in the pipeline, the
    # caller's cache fill among them), and the first job that reads the
    # checkpoint computes and pins its partitions.
    bands = band_table(signatures).localCheckpoint(eager=False)

    # one row per occupied bucket; pinned so the bands join + big-branch
    # filter reuse the aggregate instead of recomputing the band shuffle
    # (which this call runs at once, 1 job, as above).
    sizes = (bands.groupBy("band", "band_hash")
             .agg(F.count("*").alias("bsz")).localCheckpoint(eager=False))
    bands = bands.join(sizes.hint("shuffle_hash"), ["band", "band_hash"])

    small = bands.filter((F.col("bsz") <= cfg.bucket_cap) & (F.col("bsz") > 1))
    a = small.select("band", "band_hash",
                     F.col("file_id").alias("src"))
    b = small.select("band", "band_hash",
                     F.col("file_id").alias("dst"))
    # shuffled-hash, not sort-merge: band tables are opaque kernel output
    # (no stats -> Catalyst defaults to SMJ, paying two full sorts of the
    # O(num_bands*N) table); per-partition hash builds are bounded by the
    # bucket cap + AQE skew split
    small_pairs = (
        a.join(b.hint("shuffle_hash"), ["band", "band_hash"])
         .filter(F.col("src") < F.col("dst"))
         .select("src", "dst")
    )

    # mega-buckets: order members by simhash (near-duplicates sort adjacently
    # because close simhashes share high bits), pair each member with its w
    # successors via an equi-join on (bucket, rank+delta) — no collect_list,
    # no quadratic blowup. The rank itself is computed by the stitched
    # range-partition form (grouped_rank_scalable): a plain
    # Window.partitionBy(band, band_hash) would gather an entire mega-bucket
    # into the one task that sorts it — exactly the skew this branch exists
    # to avoid — so no per-task gather here ever exceeds a range partition.
    #
    # Adaptive skip: when NO bucket exceeds the cap (the common case once
    # exact-sha pre-clustering has removed identical files), the whole
    # branch — including repartitionByRange's boundary-sampling job and
    # the localCheckpoint materialization inside grouped_rank_scalable —
    # is pure overhead (~1-2s of fixed job cost per invocation here;
    # the same class of waste at cluster scale). One limit(1) probe over
    # the already-aggregated bucket-size table decides; `sizes` is one
    # row per occupied bucket and pinned above, so every later branch
    # reads the aggregate back instead of recomputing the band shuffle.
    has_big = bool(sizes.filter(F.col("bsz") > cfg.bucket_cap)
                   .limit(1).count())
    if not has_big:
        return small_pairs.distinct()

    big = bands.filter(F.col("bsz") > cfg.bucket_cap)
    nparts = int(signatures.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    ranked = grouped_rank_scalable(
        big, ["band", "band_hash"], ["simhash", "file_id"], nparts)
    offsets = F.explode(F.sequence(F.lit(1), F.lit(cfg.neighbor_window)))
    probe = ranked.withColumn("delta", offsets).withColumn(
        "rn2", F.col("rn") + F.col("delta"))
    big_pairs = (
        probe.alias("l")
        .join(ranked.alias("r"),
              (F.col("l.band") == F.col("r.band"))
              & (F.col("l.band_hash") == F.col("r.band_hash"))
              & (F.col("l.rn2") == F.col("r.rn")))
        .select(F.least("l.file_id", "r.file_id").alias("src"),
                F.greatest("l.file_id", "r.file_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )

    return small_pairs.unionByName(big_pairs).distinct()


def incremental_candidate_pairs(corpus_sigs: DataFrame,
                                delta_sigs: DataFrame) -> DataFrame:
    """LSH candidate pairs INCIDENT TO A DELTA batch against a standing
    corpus — the 100-TB ingest shape (reference parity: theta
    set-operation semantics applied to dedup; datasketches-go's
    incremental union use case, theta/union_impl.go:26-41).

    A deduped corpus re-checks only what changed: a new crawl batch or
    repo push must be compared against the corpus WITHOUT re-running
    all-pairs LSH over 10^12 files. Two asymmetries make this cheap and
    this operator encodes both:

      * the corpus band table (the 10^12-row side) is NEVER shuffled:
        the delta band table is tiny by assumption, so the band join
        broadcasts it (plan-guarded in test_plans.py) and the corpus
        side streams map-side through the join — at cluster scale the
        corpus signatures are read from the persisted signature
        checkpoint (pipeline.py materializes exactly this table), not
        recomputed;
      * corpus-corpus pairs are excluded BY CONSTRUCTION (the corpus is
        already deduped), so the output is only (corpus x delta) and
        (delta x delta) pairs — the right side of every emitted pair is
        a delta file.

    Skew note: a boilerplate mega-bucket of f_c corpus rows meets only
    f_d delta rows here (f_c * f_d join rows, f_d small) — the quadratic
    f^2 blowup candidate_pairs() guards against cannot occur unless the
    DELTA itself is boilerplate-heavy; a delta large enough to need the
    mega-bucket machinery should run the full candidate_pairs() instead.

    Returns (src, dst) distinct with src < dst, at least one side delta.
    """
    all_bands = band_table(
        corpus_sigs.select("file_id", "simhash", "bands").unionByName(
            delta_sigs.select("file_id", "simhash", "bands"))
    ).select("band", "band_hash", F.col("file_id").alias("src"))
    delta_bands = band_table(delta_sigs).select(
        "band", "band_hash", F.col("file_id").alias("dst"))
    return (
        all_bands.join(F.broadcast(delta_bands), ["band", "band_hash"])
        .filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"))
        .distinct())
