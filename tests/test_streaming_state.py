"""Streaming latest-state parity: the last emission per key across all
micro-batches must equal the batch argmax (queries.latest_event) over the
same rows — including out-of-order arrivals, which the keyed state must
suppress rather than let overwrite newer state."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.queries.analytics import q_latest_event
from cassandra_data_migrator_spark.sources.parquet import load_table
from cassandra_data_migrator_spark.streaming.state import streaming_latest_state


def test_streaming_latest_state_matches_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    stage = tmp_path / "events_stream"
    stage.mkdir()
    # split by event_id parity so BOTH batches interleave in time — batch 2
    # carries events that are older than batch-1 state for most users, which
    # must not regress the kept state
    cols = ["event_id", "user_id", "ts_us", "event_type", "value"]
    events.filter(F.col("event_id") % 2 == 0).select(cols).coalesce(1).write.parquet(
        str(stage / "b0")
    )
    events.filter(F.col("event_id") % 2 == 1).select(cols).coalesce(1).write.parquet(
        str(stage / "b1")
    )
    static = spark.read.parquet(str(stage / "b0"))
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage) + "/*")
    )
    out = str(tmp_path / "out")
    q = (
        streaming_latest_state(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    # ≥1 and ≤(number of micro-batches) emissions per user; the (ts,event_id)-max
    # emission is the final state
    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts_us").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts_us", "event_type")
    )
    expected = q_latest_event(spark, sf_dir).select(
        "user_id", "event_id", "ts_us", "event_type"
    )
    assert final.count() == expected.count()
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
