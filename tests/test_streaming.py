"""Structured Streaming parity: streaming operators over a file source must
agree with their batch formulations (memory-sink harness)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_hourly_rollup_matches_batch(spark, tmp_path):
    from sparkdedup.streaming.stream_dedup import streaming_hourly_rollup

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # file stream source needs a directory
    src_dir = str(tmp_path / "events_dir")
    batch.write.parquet(src_dir)
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)

    agg = streaming_hourly_rollup(stream)
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("rollup_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM rollup_out").toPandas()

    want = (batch.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value"))).toPandas()

    # watermark in append mode withholds windows not yet closed; everything
    # emitted must match batch exactly, and most windows should be emitted
    got_s = got.sort_values(["hour", "event_type"]).reset_index(drop=True)
    want_s = want.sort_values(["hour", "event_type"]).reset_index(drop=True)
    merged = got_s.merge(want_s, on=["hour", "event_type"],
                         suffixes=("_s", "_b"))
    assert len(merged) == len(got_s)
    assert (merged["n_s"] == merged["n_b"]).all()
    assert (abs(merged["sum_value_s"] - merged["sum_value_b"]) < 1e-9).all()
    assert len(got_s) >= 0.5 * len(want_s)


def test_streaming_first_seen_dedup(spark, tmp_path):
    from sparkdedup.streaming.stream_dedup import streaming_first_seen

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # give documents an event time so the watermarked dedup applies
    src = docs.withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    path = str(tmp_path / "docs_ts")
    src.write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    dedup = streaming_first_seen(stream)
    q = (dedup.writeStream.outputMode("append").format("memory")
         .queryName("dedup_out")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM dedup_out").toPandas()
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert len(got) == n_distinct


def test_streaming_signatures_match_batch(spark, tmp_path):
    """The signature stage is stateless, so the same mapInPandas operator
    must produce identical signatures on a streaming source."""
    from sparkdedup.config import DedupConfig
    from sparkdedup.operators.signatures import signature_stage

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    files = docs.selectExpr("'r' as repo", "cast(doc_id as string) as path",
                            "'0' as commit", "lang", "text as content")
    src = str(tmp_path / "files_dir")
    files.write.parquet(src)

    batch_sigs = signature_stage(spark.read.parquet(src),
                                 DedupConfig()).toPandas()

    stream = spark.readStream.schema(files.schema).parquet(src)
    q = (signature_stage(stream, DedupConfig())
         .writeStream.outputMode("append").format("memory")
         .queryName("sig_stream")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .start())
    q.processAllAvailable()
    q.stop()
    stream_sigs = spark.sql("SELECT * FROM sig_stream").toPandas()

    b = batch_sigs.sort_values("file_id").reset_index(drop=True)
    s = stream_sigs.sort_values("file_id").reset_index(drop=True)
    assert len(b) == len(s) == 50
    assert (b["sha"] == s["sha"]).all()
    assert (b["simhash"] == s["simhash"]).all()
    for x, y in zip(b["bands"], s["bands"]):
        assert list(x) == list(y)


def test_append_emission_boundary_semantics(spark, tmp_path):
    """Pin Spark's append-mode emission predicate at the exact boundary
    (ADVICE r3): with max(ts) landing exactly on an hour mark, is the
    window whose end EQUALS the final watermark (max_ts - delay) emitted?
    The gate oracle (SQL_STREAMING_HOURLY_ROLLUP) must use the same
    comparison; this fixture fails loudly if Spark's semantics and the
    oracle's cutoff ever disagree on the equality case."""
    import pandas as pd

    from sparkdedup.streaming.stream_dedup import streaming_hourly_rollup

    # max ts = 12:00:00 exactly; watermark 2h -> final watermark 10:00:00.
    # Window [09:00, 10:00) has end == watermark: the equality case.
    rows = pd.DataFrame({
        "ts": pd.to_datetime([
            "2024-01-01 08:30:00", "2024-01-01 09:15:00",
            "2024-01-01 09:45:00", "2024-01-01 10:30:00",
            "2024-01-01 12:00:00"]),
        "event_type": ["a"] * 5,
        "value": [1.0, 2.0, 3.0, 4.0, 5.0],
    })
    src_dir = str(tmp_path / "boundary_events")
    spark.createDataFrame(rows).write.parquet(src_dir)
    stream = (spark.readStream
              .schema("ts timestamp_ntz, event_type string, value double")
              .parquet(src_dir))
    agg = streaming_hourly_rollup(stream, watermark="2 hours")
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("boundary_out")
         .option("checkpointLocation", str(tmp_path / "ckpt_boundary"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT * FROM boundary_out").toPandas()
    emitted_hours = set(got["hour"].astype(str))
    # the 08:00 window (end 09:00 < watermark) must be out
    assert any(h.startswith("2024-01-01 08") for h in emitted_hours)
    # replicate the ORACLE's inclusive cutoff: end <= max_ts - 2h keeps
    # the 09:00 window. If Spark emits it too, the oracle is aligned.
    oracle_keeps_9 = True  # end 10:00 <= 10:00
    spark_emits_9 = any(h.startswith("2024-01-01 09") for h in emitted_hours)
    assert spark_emits_9 == oracle_keeps_9, (
        f"append-mode boundary mismatch: spark emitted {sorted(emitted_hours)} "
        "but the oracle cutoff is inclusive (end <= watermark) — fix "
        "SQL_STREAMING_HOURLY_ROLLUP to match")
    # the 10:00 window (end 11:00 > watermark) must be withheld
    assert not any(h.startswith("2024-01-01 10") for h in emitted_hours)


def test_streaming_gate_queries_leave_no_sink_tables(spark):
    """Each gate streaming query drops its memory-sink temp view before
    returning: the view pins the sink's materialized rows for the
    session's lifetime, and the gate/bench run 4+ rounds of 4 streaming
    queries in one session. The returned frame must still be readable
    (its analyzed plan holds the sink relation directly)."""
    from sparkdedup.queries import QUERIES

    before = {t.name for t in spark.catalog.listTables()}
    for name in ["streaming_hourly_rollup", "streaming_first_seen",
                 "streaming_heavy_hitters", "streaming_chunk_dedup"]:
        df = QUERIES[name](spark, SF_DIR)
        after = {t.name for t in spark.catalog.listTables()}
        assert after <= before, (
            f"{name} left temp table(s) registered: {after - before}")
        # frame stays readable after the drop, twice (re-analysis safe),
        # and the drained sink is not empty
        n = df.count()
        assert n > 0 and df.count() == n
