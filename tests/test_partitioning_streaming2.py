import numpy as np
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import codec, fixtures, grid, lineage
from raster_functions_spark.streaming import composites


def test_cell_partitioned_write_prunes(spark, tmp_path):
    """Spatial bbox read over a cell-partitioned table must touch only the
    covering partitions (PartitionFilters, not a full scan)."""
    path = str(tmp_path / "cells")
    imgs = fixtures.images_df(spark, 600).select("image_id", "lon", "lat", "caption")
    lineage.write_cell_partitioned(imgs, path, res=3)
    bbox = (9.0, 44.0, 11.5, 46.5)  # around the hot cluster
    out = lineage.read_cells(spark, path, bbox, res=3)
    rows = out.collect()
    # correctness: exact bbox semantics (pruning is an optimization only)
    full = spark.read.parquet(path)
    want = full.where((F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
                      & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3])).count()
    assert len(rows) == want and len(rows) > 0
    # pruning: physical plan carries partition filters on p_cell
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "p_cell" in plan
    # and it scans fewer files than the whole table
    n_parts_all = full.select("p_cell").distinct().count()
    n_parts_read = out.select("p_cell").distinct().count()
    assert n_parts_read < n_parts_all


def test_incremental_composite_stream(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    partials = str(tmp_path / "partials")
    ckpt = str(tmp_path / "ckpt")

    # batch 1 of tiles lands
    pdf1 = fixtures.stack_images_pdf([0, 1], 3)
    spark.createDataFrame(pdf1).write.mode("append").parquet(str(src_dir))
    schema = spark.read.parquet(str(src_dir)).schema
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    q = composites.start_incremental_composite(stream, partials, ckpt, "inc1")
    q.awaitTermination()
    c1 = {r.scene_id: r for r in
          composites.current_composite(spark, partials).collect()}
    assert c1["scene0"].n_tiles == 3

    # batch 2 arrives → resume stream from checkpoint, only new files processed
    pdf2 = fixtures.stack_images_pdf([0], 5).query("t >= 3")
    spark.createDataFrame(pdf2).write.mode("append").parquet(str(src_dir))
    stream2 = spark.readStream.schema(schema).parquet(str(src_dir))
    q2 = composites.start_incremental_composite(stream2, partials, ckpt, "inc2")
    q2.awaitTermination()
    c2 = {r.scene_id: r for r in
          composites.current_composite(spark, partials).collect()}
    assert c2["scene0"].n_tiles == 5            # 3 + 2 new
    assert c2["scene1"].n_tiles == 3            # untouched
    assert c2["scene0"].last_batch >= 1
    # running mean equals batch recompute over all tiles
    all_px = [codec.decode(bytes(b))[0].astype(np.float64)
              for b in list(pdf1[pdf1.scene_id == "scene0"]["bytes"])
              + list(pdf2["bytes"])]
    want_mean = np.concatenate([p.ravel() for p in all_px]).mean()
    assert abs(c2["scene0"].mean - want_mean) < 1e-9


def test_incremental_composite_replay_is_noop(spark, tmp_path):
    """The composite's partials commit through the snapshot streaming
    loop: a replayed microbatch (here batch 0 again, from a fresh
    checkpoint over the same files) carries a run id already in the log,
    so it commits nothing and the composite is unchanged."""
    from raster_functions_spark.snapshots import SnapshotTable
    src = str(tmp_path / "incoming")
    partials = str(tmp_path / "partials")
    pdf = fixtures.stack_images_pdf([0, 1], 3)
    spark.createDataFrame(pdf).write.parquet(src)
    schema = spark.read.parquet(src).schema
    q = composites.start_incremental_composite(
        spark.readStream.schema(schema).parquet(src), partials,
        str(tmp_path / "ck1"), "inc_replay1")
    q.awaitTermination(120)
    snaps = SnapshotTable(spark, partials).snapshots()
    assert [s["run_id"] for s in snaps] == ["batch-0"]
    q2 = composites.start_incremental_composite(
        spark.readStream.schema(schema).parquet(src), partials,
        str(tmp_path / "ck2"), "inc_replay2")
    q2.awaitTermination(120)
    assert SnapshotTable(spark, partials).snapshots() == snaps
    got = composites.current_composite(spark, partials).collect()
    assert [(r.scene_id, r.n_tiles, r.last_batch) for r in got] == \
        [("scene0", 3, 0), ("scene1", 3, 0)]
