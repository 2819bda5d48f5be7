"""Round-6 hardening tranche (third review pass): Hive-escaped partition
values, NULL-pcol overwrite probe, orphaned-file sweep, gap-safe
compaction watermark, checkpoint n_buckets identity, NaT-safe streaming
sessionization, dataset-name validation, run_prefix identity."""

import json

import pytest
from pyspark.sql import functions as F

from raster_functions_spark import lineage
from raster_functions_spark.snapshots import SnapshotTable


def _df(spark, ids, pval):
    return (spark.range(*ids).withColumnRenamed("id", "image_id")
            .withColumn("p_cell", F.lit(pval))
            .withColumn("v", (F.col("image_id") * 3).cast("long")))


def test_escaped_partition_values_roundtrip(spark, tmp_path):
    """A partition value Spark Hive-escapes in the directory name (':')
    must round-trip RAW through the manifest: overwrite_partitions drops
    the old files and read(partition_values) finds them."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    val = "2024-01-01 10:00:00"
    t.append(_df(spark, (0, 4), val), "p_cell", run_id="a")
    manifest_vals = {f["partition"] for f in t._manifest(t.current_id)}
    assert manifest_vals == {val}                   # unescaped in manifest
    assert t.read(partition_values=[val]).count() == 4
    t.overwrite_partitions(_df(spark, (10, 12), val), [val], run_id="b")
    assert t.read().count() == 2                    # old files dropped


def test_overwrite_rejects_null_partition_rows(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, (0, 3), "a"), "p_cell", run_id="a")
    bad = _df(spark, (3, 5), "a").withColumn(
        "p_cell", F.when(F.col("image_id") == 4, None).otherwise("a"))
    with pytest.raises(ValueError, match="outside the replaced"):
        t.overwrite_partitions(bad, ["a"], run_id="b")


def test_expire_sweeps_orphaned_uncommitted_dirs(spark, tmp_path):
    """A crash between _write_data and _commit leaves an unreferenced
    snap dir; retention must reclaim it once its id is expired."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, (0, 2), "a"), "p_cell", run_id="r1")
    # simulate the crashed write at next_id=2 (files written, no commit)
    t._write_data(_df(spark, (2, 4), "a"), "p_cell", 2)
    t.append(_df(spark, (2, 4), "a"), "p_cell", run_id="r2")   # the retry
    t.append(_df(spark, (4, 6), "a"), "p_cell", run_id="r3")
    import os
    data = tmp_path / "t" / "data"
    assert len(list(data.iterdir())) == 4            # incl. the orphan
    deleted = t.expire_snapshots(keep_last=1)
    assert any(d.startswith("data/snap-2-") for d in deleted)
    # live data intact, orphan gone
    assert t.read().count() == 6
    assert len(list(data.iterdir())) == 3


def test_compaction_watermark_jumps_gaps(spark, tmp_path):
    """A skipped compaction ordinal (cadence hit with nothing to do) must
    not degrade later compaction ids to per-id tombstones."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    b = 0

    def grow():                          # ≥2 small files so compact commits
        nonlocal b
        for _ in range(2):
            t.append(_df(spark, (b, b + 1), "a"), "p_cell",
                     run_id=f"batch-{b}")
            b += 1

    grow()
    t.compact(min_files_per_value=2, run_id="compaction-1")
    grow()
    t.compact(min_files_per_value=2, run_id="compaction-3")   # 2 skipped
    grow()
    t.compact(min_files_per_value=2, run_id="compaction-5")   # 4 skipped
    grow()                               # push compaction-5 into expiry
    t.expire_snapshots(keep_last=1)
    root = t._root()
    assert root["expired_seq_watermarks"]["compaction"]["hi"] == 5
    assert not root.get("expired_run_ids")           # no tombstones
    # and a replay of an expired compaction ordinal is a no-op
    cur = t.current_id
    assert t.compact(min_files_per_value=2, run_id="compaction-3") != 0
    assert t.current_id == cur


def test_checkpointed_write_refuses_n_buckets_change(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    df = spark.range(0, 40).withColumnRenamed("id", "k")
    lineage.checkpointed_write(df, path, "k", n_buckets=8, run_id="r1")
    with pytest.raises(ValueError, match="n_buckets"):
        lineage.checkpointed_write(df, path, "k", n_buckets=16, run_id="r2")
    # same count resumes fine (no-op)
    m = lineage.checkpointed_write(df, path, "k", n_buckets=8, run_id="r3")
    assert m["n_buckets"] == 8 and len(m["buckets"]) == 8


def test_dataset_name_validation(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = _df(spark, (0, 2), "a")
    for bad in ("..", "a/b", "a\\b", "_p=x", "stats.parquet", ""):
        with pytest.raises(ValueError, match="bad dataset name"):
            t.append_tables({bad: (df, "p_cell")}, run_id=f"x-{bad!r}")


def test_sessionize_stream_drops_null_timestamps(spark, tmp_path):
    """A NULL event timestamp must not seed a garbage session or crash
    the query (NaT → INT64_MIN µs pre-fix)."""
    import pandas as pd
    from raster_functions_spark.streaming import stateful
    src = str(tmp_path / "src")
    pdf = pd.DataFrame({
        "user_id": [1, 1, 1, 2],
        "ts": [pd.Timestamp("2024-01-01 00:00:00"), pd.NaT,
               pd.Timestamp("2024-01-01 02:00:00"), pd.NaT]})
    spark.createDataFrame(pdf).coalesce(1).write.parquet(src + "/a")
    stream = (spark.readStream.schema("user_id long, ts timestamp")
              .parquet(src + "/*"))
    out = stateful.sessionize_stream(stream, gap_sec=1800)
    q = (out.writeStream.format("memory").queryName("sess_nat_test")
         .outputMode("update").option(
             "checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_nat_test").collect()
    # user 1: the two real events are > gap apart → first session closed
    # by gap; user 2 (all-NULL) contributes nothing and nothing crashed
    assert [(r.user_id, r.n_events, r.closed_by) for r in rows] == \
        [(1, 1, "gap")]


# one microbatch per snapshot-backed start_* ingest: name ->
# (spark, table path) -> (source rows, start(stream, checkpoint, **kw))
def _snapshot_sink(spark, path):
    return (_df(spark, (0, 8), 1),
            lambda s, ck, **kw: SnapshotTable(spark, path).start_ingest(
                s, "p_cell", ck, **kw))


def _flagship_sink(spark, path):
    from raster_functions_spark import fixtures, pipeline
    aoi = fixtures.aoi_df(spark, 4)
    return (fixtures.images_df(spark, 40),
            lambda s, ck, **kw: pipeline.start_flagship_incremental(
                s, aoi, path, ck, **kw))


def _pixel_mean_sink(spark, path):
    from raster_functions_spark import fixtures
    from raster_functions_spark.streaming import composites
    return (spark.createDataFrame(fixtures.mosaic_stack_pdf(2, 2)),
            lambda s, ck, **kw: composites.start_pixel_mean_ingest(
                s, path, ck, **kw))


def _ivf_sink(spark, path):
    from raster_functions_spark import similarity
    vecs = spark.createDataFrame(
        [(i, [float(i % 4), float(i // 4)]) for i in range(8)],
        "vec_id long, embedding array<double>")
    similarity.ivf_build_snapshot(vecs, path, n_lists=2,
                                  centroids=[[0.0, 0.0], [3.0, 1.0]])
    return (vecs.withColumn("vec_id", F.col("vec_id") + 100),
            lambda s, ck, **kw: similarity.start_ivf_ingest(s, path, ck, **kw))


def _dedup_sink(spark, path):
    from raster_functions_spark import dedup
    docs = spark.createDataFrame([(i, f"t {i % 3}") for i in range(6)],
                                 "doc_id long, text string")
    return (docs, lambda s, ck, **kw: dedup.start_dedup_ingest(
        s, path, ck, m_bits=1 << 10, n_buckets=2, **kw))


def _hll_sink(spark, path):
    from raster_functions_spark import sketches
    rows = spark.range(50).select(F.lit("g").alias("grp"),
                                  F.col("id").alias("key"))
    return (rows, lambda s, ck, **kw: sketches.start_hll_ingest(
        SnapshotTable(spark, path), s, "key", ["grp"], ck, **kw))


_SINKS = {"snapshot": _snapshot_sink, "flagship": _flagship_sink,
          "pixel_mean": _pixel_mean_sink, "ivf": _ivf_sink,
          "dedup": _dedup_sink, "hll": _hll_sink}


@pytest.mark.parametrize("sink", list(_SINKS))
def test_streaming_sinks_honor_run_prefix(spark, tmp_path, sink):
    """Every snapshot-backed start_* commits through the one streaming
    loop (SnapshotTable.microbatch_sink), so each issues
    <run_prefix>-<n> run ids. A former per-sink copy of that loop in
    start_flagship_incremental hardcoded 'batch-<id>': two logical
    streams sharing a view table silently no-opped each other's commits
    (the checkpoint identity hazard run_prefix exists to prevent)."""
    path = str(tmp_path / "table")
    rows, start = _SINKS[sink](spark, path)
    before = len(SnapshotTable(spark, path).snapshots())
    src = str(tmp_path / "src")
    rows.coalesce(1).write.parquet(src)
    q = start(spark.readStream.schema(rows.schema).parquet(src),
              str(tmp_path / "ck"), run_prefix="streamA")
    q.awaitTermination(120)
    ids = [s["run_id"] for s in SnapshotTable(spark, path).snapshots()]
    assert ids[before:] == ["streamA-0"]
