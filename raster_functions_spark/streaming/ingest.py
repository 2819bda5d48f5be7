"""Structured Streaming ingest for the image table — SURVEY.md §2.10.

The reference has no true streaming (its "time" is the time-enabled mosaic
dimension); the engine adds optional live ingest: new image files land in
a directory → ``readStream`` picks them up → per-microbatch the flagship
feature pass runs → results append to the composites table. Event time =
acquisition date; watermarked windows handle late acquisitions.

``availableNow`` triggers make every pipeline testable as a batch drain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling event-time aggregation (late data dropped
    after the watermark)."""
    return (events
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sum_v")))


def run_available_now(agg: DataFrame, query_name: str) -> DataFrame:
    """Drain all available input synchronously into a memory sink and
    return the result table (batch-equivalent semantics for tests)."""
    spark = agg.sparkSession
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(query_name).trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(query_name)


def stream_to_checkpointed_sink(df: DataFrame, out_path: str,
                                checkpoint: str, query_name: str):
    """Exactly-once file sink with checkpoint dir — restart resumes from
    the last committed offset (the streaming half of the engine's
    checkpoint-resume story; batch half is lineage.checkpointed_write)."""
    return (df.writeStream.outputMode("append")
            .format("parquet").option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .queryName(query_name).trigger(availableNow=True).start())
