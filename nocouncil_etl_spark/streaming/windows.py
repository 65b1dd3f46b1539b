"""Event-time windowing + streaming ingestion helpers (SURVEY.md §2.10 T5).

The reference is batch-with-memoization re-run by cron (sample_cron_job.sh);
its incremental idioms (skip-if-exists, seen-set, per-record commit) map to
file-source streaming with checkpoints, watermarked stateful ops, and
foreachBatch sinks. The `events` table stands in for the stream.

Each streaming helper has a batch twin with identical semantics — batch twins
are what the DuckDB oracle checks; the streaming forms run under
trigger(availableNow=True) into a memory sink in queries and tests.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nocouncil_etl_spark.functions.numeric import rsum
from nocouncil_etl_spark.io import normalize_events_ts, read_parquet
from nocouncil_etl_spark.session import tune


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (the streaming analogue of
    the cron re-scan). maxFilesPerTrigger would bound micro-batches in a live
    deployment; availableNow drains everything for tests.

    readStream needs a declared schema; we take it from `io.read_parquet` of
    the same file (a cached inference, no job when warm) so the stream sees
    exactly what `io.load` sees (the generator has shipped both
    TIMESTAMP(NANOS)-as-long and µs-TIMESTAMP files across rounds), then
    funnel ts through the shared `normalize_events_ts`
    chokepoint — the batch/stream twins must agree with each other and with
    the DuckDB oracle on the same bytes."""
    tune(spark)
    physical = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # the file source requires a directory; glob-filter down to the one table
    raw = (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", "8")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def run_to_memory(stream_df: DataFrame, mode: str = "append") -> DataFrame:
    """Drain a streaming frame synchronously into a memory sink; returns the
    result as a batch DataFrame. availableNow + processAllAvailable = the
    exactly-once 'catch up then stop' cron replacement (T1/T3).

    The memory-sink table is copied into a local DataFrame and dropped before
    returning, so repeated calls in a long session don't leak one buffered
    temp view per query. (Memory sinks are a test/debug surface — bounded
    result sets by definition — so the driver-side copy is safe.)"""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    spark = stream_df.sparkSession
    sunk = spark.table(name)
    out = spark.createDataFrame(sunk.collect(), sunk.schema)
    spark.catalog.dropTempView(name)
    return out


def tumbling_agg(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling event-time windows; identical expression works in batch and
    streaming (batch twin is the oracle)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), rsum("value").alias("total"))
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_agg(events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("w_start_us"), "event_type", "n")
    )


def attribution_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream (or batch-batch) inner join: attribute each purchase to
    the same user's clicks in the preceding 30 minutes. The identical
    expression runs as a watermarked stream-stream join (state bounded by
    the time-range condition + watermarks) or as a plain range join in
    batch — the batch twin is the oracle.

    At scale: the equi key (user_id) partitions both sides; the range
    condition bounds state retention per key, so join state is
    O(events-per-user-per-30min), not O(stream)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("amount"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.round("amount", 2).alias("amount"),
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """session_window merge (open interval [ts, ts+gap)); end = last_ts + gap."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
