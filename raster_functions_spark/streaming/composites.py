"""Live incremental composites — streaming ingest feeding running
per-scene statistics (the engine addition on top of the reference's batch
time-stacks; SURVEY.md §2.10 notes ingest may be Structured Streaming).

Pattern: each microbatch computes decomposable partials — per-tile
sum/count/min/max (``stack.pixel_partials``) or per-pixel [Σ, count]
tiles (``stack.mean_partial_tiles``) — and commits them to a snapshot
table through the shared streaming loop
(``SnapshotTable.microbatch_sink``): one commit per microbatch under
``run_id=<run_prefix>-<batch_id>``, so a retried batch is a no-op. The
"current composite" is a plain aggregation over the committed partials —
always consistent, never rewritten. Non-decomposable composites (median,
percentile) re-aggregate the raw table on demand; the partials table
answers the streaming-freshness cases."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stack import mean_partial_tiles, merge_mean_partials, pixel_partials
from ..snapshots import SnapshotTable


def tile_partials(df: DataFrame, value_band: int = 0) -> DataFrame:
    """One row of decomposable partials per tile (``scene_id``,
    ``px_sum``, ``px_min``, ``px_max``, ``px_n``) —
    :func:`stack.pixel_partials`."""
    return pixel_partials(df.select("scene_id", "bytes"), value_band)


def start_incremental_composite(stream: DataFrame, partials_path: str,
                                checkpoint: str, query_name: str,
                                value_band: int = 0):
    """availableNow/continuous stream → per-tile partials, exactly-once:
    each microbatch's :func:`tile_partials`, tagged with a ``batch_id``
    column, are one snapshot commit at ``partials_path`` on the shared
    loop (``SnapshotTable.microbatch_sink``), so a retried batch is a
    no-op instead of a duplicate that would inflate every downstream
    sum/mean/count."""
    table = SnapshotTable(stream.sparkSession, partials_path)

    def commit(batch_df: DataFrame, run_id: str, batch_id: int) -> None:
        partials = (tile_partials(batch_df, value_band)
                    .withColumn("batch_id", F.lit(batch_id).cast("long")))
        table.append(partials, "batch_id", run_id=run_id)

    return table.start_stream(stream, table.microbatch_sink(commit),
                              checkpoint, query_name)


def current_composite(spark: SparkSession, partials_path: str) -> DataFrame:
    """The always-consistent running composite: one aggregation over the
    committed partials (decomposable measures)."""
    p = SnapshotTable(spark, partials_path).read()
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
    batch path), committed to a snapshot table on the shared loop
    (``SnapshotTable.microbatch_sink`` — exactly-once per
    ``<run_prefix>-<batch_id>``, with its compaction and retention
    cadence and checkpoint-identity caveat). The composite is never
    rewritten; freshness = one merge over the partials at read time
    (current_pixel_composite). Scale shape: ingest work ∝ batch size,
    merge work ∝ positions — the raw acquisitions are never re-read."""
    table = SnapshotTable(stream.sparkSession, table_path)

    def commit(batch_df: DataFrame, run_id: str, _) -> None:
        table.append(mean_partial_tiles(batch_df, group_cols, value_band,
                                        qa_band, clear_values),
                     group_cols[0], run_id=run_id)

    return table.start_stream(
        stream, table.microbatch_sink(commit, run_prefix, compact_every,
                                      expire_every, keep_last),
        checkpoint, query_name)


def current_pixel_composite(spark: SparkSession, table_path: str,
                            group_cols: list[str] = ["scene_id"],
                            fmt_out: str = "zlib") -> DataFrame:
    """The live mean IMAGE per position: merge the snapshot table's
    [Σ, count] partials (stack.merge_mean_partials). Consistent at any
    snapshot; time travel gives the composite as-of any earlier batch."""
    partials = SnapshotTable(spark, table_path).read()
    return merge_mean_partials(partials, group_cols, fmt_out)
