"""Structured Streaming variants of the event-time window operators
(SURVEY.md §1.2 'Structured Streaming variant deferred' → delivered here).

The batch operators in operators/windows.py and these share the same window
expressions; the streaming versions add watermarks for late data and state
cleanup. Tests drive them with a file source + Trigger.availableNow over the
same parquet fixtures, so batch and streaming results are comparable.

At scale this is the continuous-ingest path of the migrate engine: a CDC/event
stream lands in the same windowed aggregates the batch job computes, with
state bounded by the watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.session import configure_session, scratch_dir


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events fixture (ts arrives as BIGINT nanos
    per the nanosAsLong read path; normalized like sources.parquet).

    Spark's file stream source requires a *directory* of arriving files (the
    production shape); the single-file fixture is staged into a
    ``session.scratch_dir`` keyed by the fixture path via symlink."""
    import os

    configure_session(spark)
    src = os.path.abspath(f"{sf_dir.rstrip('/')}/events.parquet")
    stage = scratch_dir(spark, "stream", os.path.abspath(sf_dir))
    link = os.path.join(stage, "events.parquet")
    if not os.path.islink(link):
        os.symlink(src, link)
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stage)
    )
    return _normalize_ts(stream)


def _normalize_ts(stream: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column (BIGINT nanos on the nanosAsLong
    read path, timestamp otherwise) to a true timestamp + ``ts_us``."""
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts_us", F.expr("ts_ns DIV 1000")
        )
    else:
        stream = stream.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    return stream.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


def read_parquet_stream_dir(
    spark: SparkSession,
    schema_df: DataFrame,
    directory: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over an ARBITRARY directory of arriving event
    files — the checkpoint-restart tests stage their own file batches into
    it between runs (the production arrival shape). Same ts normalization
    as read_events_stream."""
    configure_session(spark)
    stream = (
        spark.readStream.schema(schema_df.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )
    return _normalize_ts(stream)


def streaming_tumbling(
    events: DataFrame, duration: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling window counts — append-mode compatible."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), duration).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "sum_value",
        )
    )


def streaming_session(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked session windows per user (native session_window state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )


def run_available_now(stream_df: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drain the whole source with Trigger.availableNow into parquet (the test
    harness path; production would use a continuous trigger)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_window_distinct(
    events: DataFrame, duration: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked per-window distinct-user cardinality via the HLL++
    sketch (``approx_count_distinct``) — the streaming face of the batch
    sketch audits (operators/sketches.py).

    Exact COUNT(DISTINCT) is unsupported in streaming aggregations for a
    reason: its state is the full per-window key SET, unbounded in the key
    cardinality. The sketch's state is a fixed-size register array per
    window, so a 100 TB/day stream costs the same state per window as a
    trickle. tests/test_streaming.py pins the estimate against the batch
    exact count within the sketch's published rsd bound."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window(F.col("ts"), duration).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.expr("approx_count_distinct(user_id, 0.02)")
            .cast("bigint")
            .alias("n_users_est"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "n_users_est",
        )
    )
