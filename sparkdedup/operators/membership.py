"""Membership + frequency sketches as DataFrame operators.

Bloom filter re-expressed Spark-first (reference filters/bloom_filter.go):
  - sizing m = ceil(-n ln(fpp) / ln^2 2), k = ceil(-log2 fpp)
    (reference filters/bloom_filter_builder.go:129-163)
  - double hashing index_i = (h0 + i*h1) mod m with h0 = xxhash64(key),
    h1 = xxhash64(key, h0-seeded) (reference filters/bloom_filter.go:144-214
    uses seeded xxhash64 the same way; we use Spark's JVM xxhash64 — the
    filter only needs self-consistency, not cross-library bit parity)
  - the bitmap is a DataFrame of (word_idx, bits) longs built by
    aggregation (BIT_OR of shifted bits) — i.e. the build IS a groupBy,
    membership IS a join.

Count-Min (reference count/count_min_sketch.go:45-205): d x w counter
matrix as a (row, col, cnt) DataFrame; update = groupBy count, estimate =
min over rows (groupBy min after join).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_parameters(n_items: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) — reference filters/bloom_filter_builder.go:129-163."""
    m = math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2))
    k = max(1, round(-math.log2(fpp)))
    return m, k


def _positions(key: Column, m: int, k: int, seed: int) -> Column:
    """Array of k bit positions via double hashing (h0 + i*h1) mod m."""
    # reduce mod m BEFORE combining so the ANSI-mode int64 arithmetic can't
    # overflow: (h0 + i*h1) mod m == (h0%m + i*(h1%m)) mod m
    h0 = F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m))
    h1 = F.pmod(F.xxhash64(key, F.lit(seed + 1)).bitwiseOR(
        F.lit(1).cast("long")), F.lit(m))
    return F.transform(
        F.sequence(F.lit(1), F.lit(k)),
        lambda i: F.pmod(h0 + i.cast("long") * h1, F.lit(m)))


def bloom_build(df: DataFrame, col: str, n_items: int, fpp: float = 0.01,
                seed: int = 9001) -> DataFrame:
    """Build a bloom filter as a (word_idx long, bits long) bitmap table.

    Distributed build: per-key positions -> explode -> per-word BIT_OR —
    a pure partial+final aggregation, mergeable exactly like the
    reference's filter union (filters/bloom_filter.go:523-558)."""
    m, k = bloom_parameters(n_items, fpp)
    pos = (df.select(F.explode(_positions(F.col(col), m, k, seed)).alias("p"))
           .select((F.col("p") / 64).cast("long").alias("word_idx"),
                   F.expr("shiftleft(CAST(1 AS BIGINT), "
                          "CAST(pmod(p, 64) AS INT))").alias("bit")))
    return pos.groupBy("word_idx").agg(
        F.bit_or("bit").alias("bits")).withColumn(
        "m", F.lit(m)).withColumn("k", F.lit(k)).withColumn(
        "seed", F.lit(seed))


def bloom_might_contain(bloom: DataFrame, probes: DataFrame,
                        col: str) -> DataFrame:
    """probes + might_contain flag: explode probe positions, left-join the
    bitmap, a probe passes iff ALL k bits are set (no false negatives)."""
    meta = bloom.select("m", "k", "seed").first()
    m, k, seed = meta["m"], meta["k"], meta["seed"]
    pos = probes.select(
        F.col(col), F.posexplode(_positions(F.col(col), m, k, seed))
        .alias("i", "p"))
    pos = pos.select(col, (F.col("p") / 64).cast("long").alias("word_idx"),
                     F.pmod("p", F.lit(64)).cast("int").alias("off"))
    joined = pos.join(F.broadcast(bloom.select("word_idx", "bits")),
                      "word_idx", "left")
    hit = ((F.coalesce(F.col("bits"), F.lit(0))
            .bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), off)")))
           != 0).cast("int")
    return (joined.select(col, hit.alias("hit"))
            .groupBy(col).agg((F.min("hit") == 1).alias("might_contain")))


def count_min_build(df: DataFrame, col: str, eps: float = 0.01,
                    confidence: float = 0.95, seed: int = 9001) -> DataFrame:
    """d x w count-min as (row int, bucket long, cnt long).

    w = ceil(e/eps), d = ceil(ln(1/(1-confidence))) — reference
    count/count_min_sketch.go:45-70; per-row seeds derived from base seed
    (:96-107); merge = additive union (:186-205) == groupBy sum."""
    w = math.ceil(math.e / eps)
    d = max(1, math.ceil(math.log(1.0 / (1.0 - confidence))))
    rows = df.select(
        F.col(col),
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: F.struct(
                i.cast("int").alias("row"),
                F.pmod(F.xxhash64(F.col(col), i.cast("long") + F.lit(seed)),
                       F.lit(w)).alias("bucket")))).alias("rb"))
    return (rows.groupBy(F.col("rb.row").alias("row"),
                         F.col("rb.bucket").alias("bucket"))
            .agg(F.count("*").alias("cnt"))
            .withColumn("w", F.lit(w)).withColumn("d", F.lit(d))
            .withColumn("seed", F.lit(seed)))


def count_min_estimate(cms: DataFrame, probes: DataFrame, col: str) -> DataFrame:
    """Estimate = min over rows of the matching bucket counters."""
    meta = cms.select("w", "d", "seed").first()
    w, d, seed = meta["w"], meta["d"], meta["seed"]
    pos = probes.select(
        F.col(col),
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: F.struct(
                i.cast("int").alias("row"),
                F.pmod(F.xxhash64(F.col(col), i.cast("long") + F.lit(seed)),
                       F.lit(w)).alias("bucket")))).alias("rb"))
    pos = pos.select(col, F.col("rb.row").alias("row"),
                     F.col("rb.bucket").alias("bucket"))
    joined = pos.join(F.broadcast(cms.select("row", "bucket", "cnt")),
                      ["row", "bucket"], "left")
    return (joined.groupBy(col)
            .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("estimate")))
