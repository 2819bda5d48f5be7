"""Live incremental composites — streaming ingest feeding running
per-scene statistics (the engine addition on top of the reference's batch
time-stacks; SURVEY.md §2.10 notes ingest may be Structured Streaming).

Pattern: each microbatch computes decomposable per-tile partials
(sum/count/min/max — ``stack.pixel_partials``, the same map-side combine
as ``stack.stack_stats_decomposable``) and APPENDS them to a partials table
via ``foreachBatch`` (exactly-once with the query checkpoint). The
"current composite" is a plain aggregation view over the partials — always
consistent, never rewritten. Non-decomposable composites (median,
percentile) re-aggregate the raw table on demand; the partials table
answers the streaming-freshness cases."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.stack import mean_partial_tiles, merge_mean_partials, pixel_partials

PARTIALS_SCHEMA = T.StructType([
    T.StructField("scene_id", T.StringType()),
    T.StructField("px_sum", T.DoubleType()),
    T.StructField("px_min", T.DoubleType()),
    T.StructField("px_max", T.DoubleType()),
    T.StructField("px_n", T.LongType()),
    T.StructField("batch_id", T.LongType()),
])


def tile_partials(df: DataFrame, value_band: int = 0) -> DataFrame:
    """One row of decomposable partials per tile (``PARTIALS_SCHEMA``
    without ``batch_id``) — :func:`stack.pixel_partials`."""
    return pixel_partials(df.select("scene_id", "bytes"), value_band)


def start_incremental_composite(stream: DataFrame, partials_path: str,
                                checkpoint: str, query_name: str,
                                value_band: int = 0):
    """availableNow/continuous stream → per-tile partials, exactly-once.

    foreachBatch alone is only at-least-once: if a microbatch fails after
    a partial write and is retried, a blind append would duplicate rows
    and silently inflate every downstream sum/mean/count. The sink is made
    idempotent by partitioning the partials table by ``batch_id`` and
    using dynamic partition overwrite — a retried batch REPLACES its own
    partition instead of appending next to its earlier half-write."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (tile_partials(batch_df, value_band)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id").parquet(partials_path))

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .queryName(query_name).trigger(availableNow=True).start())


def current_composite(spark: SparkSession, partials_path: str) -> DataFrame:
    """The always-consistent running composite: one aggregation over the
    appended partials (decomposable measures)."""
    p = spark.read.schema(PARTIALS_SCHEMA).parquet(partials_path)
    return (p.groupBy("scene_id")
            .agg(F.sum("px_sum").alias("sum"),
                 (F.sum("px_sum") / F.sum("px_n")).alias("mean"),
                 F.min("px_min").alias("min"), F.max("px_max").alias("max"),
                 F.count("*").alias("n_tiles"),
                 F.max("batch_id").alias("last_batch"))
            .orderBy("scene_id"))


# ------------------------------------------------- per-PIXEL composites ----

def start_pixel_mean_ingest(stream: DataFrame, table_path: str,
                            checkpoint: str,
                            group_cols: list[str] = ["scene_id"],
                            value_band: int = 0,
                            qa_band: int | None = None,
                            clear_values: tuple[int, ...] = (),
                            compact_every: int | None = None,
                            expire_every: int | None = None,
                            keep_last: int = 64,
                            query_name: str = "pixel-composite-ingest",
                            run_prefix: str = "batch"):
    """Live per-PIXEL running mean composite (round 4): each microbatch of
    incoming acquisitions reduces to per-position [Σ, count] PARTIAL TILES
    (stack.mean_partial_tiles — the same map-side-combine algebra as the
    batch path) and commits them to a snapshot table with
    run_id=<run_prefix>-<id>, so a retried microbatch is a no-op and the
    partials table is exactly-once (give each logical stream its own
    run_prefix when the table can outlive its checkpoint). The
    composite is never rewritten; freshness = one merge over the
    partials at read time (current_pixel_composite).
    Scale shape: ingest work ∝ batch size, merge work ∝ positions — the
    raw acquisitions are never re-read. ``compact_every`` folds snapshot
    small-file compaction into the sink every N batches (exactly-once via
    its own run_id)."""
    from ..snapshots import SnapshotTable

    table = SnapshotTable(stream.sparkSession, table_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        partials = mean_partial_tiles(batch_df, group_cols, value_band,
                                      qa_band, clear_values)
        table.append(partials, group_cols[0], run_id=f"{run_prefix}-{batch_id}")
        # bounded small-file growth: every N batches, rewrite each value's
        # accreted file sets into one (op='compact' — skipped by
        # incremental readers, idempotent under retry via its own run_id)
        table.maintain(batch_id, compact_every=compact_every,
                       expire_every=expire_every, keep_last=keep_last)

    return (stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .queryName(query_name).trigger(availableNow=True).start())


def current_pixel_composite(spark: SparkSession, table_path: str,
                            group_cols: list[str] = ["scene_id"],
                            fmt_out: str = "zlib") -> DataFrame:
    """The live mean IMAGE per position: merge the snapshot table's
    [Σ, count] partials (stack.merge_mean_partials). Consistent at any
    snapshot; time travel gives the composite as-of any earlier batch."""
    from ..snapshots import SnapshotTable

    partials = SnapshotTable(spark, table_path).read()
    return merge_mean_partials(partials, group_cols, fmt_out)
