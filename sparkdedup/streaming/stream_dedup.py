"""Structured Streaming lift of the dedup primitives.

The reference library is one-pass + mergeable with NO event-time machinery
anywhere (SURVEY.md §2.8: no time type in any Update signature) — so every
sketch stage lifts to a streaming groupBy().agg() for free. This module
demonstrates the two shapes the engine needs:

  1. streaming signature extraction: operators.signatures.signature_stage
     applied to a streaming DataFrame as is (its mapInPandas kernel is
     stateless, so batch and streaming run identical code), and
  2. streaming incremental exact-dedup + windowed rollups with watermarks
     (the stateful shape; first-seen semantics via flatMapGroupsWithState
     analog applyInPandasWithState, or dropDuplicates with watermark).

Batch parity is tested with the file-source -> memory-sink harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_first_seen(docs_stream: DataFrame,
                         watermark: str = "1 hour") -> DataFrame:
    """Streaming exact-dedup: keep the first occurrence of each content
    hash (state bounded by the watermark)."""
    return (
        docs_stream
        .withColumn("text_hash", F.md5("text"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicates(["text_hash"])
    )


def streaming_hourly_rollup(events_stream: DataFrame,
                            watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup (late data handled by watermark)."""
    return (
        events_stream
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n", "sum_value")
    )

