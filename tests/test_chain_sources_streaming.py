import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import codec, fixtures
from raster_functions_spark.operators import focal
from raster_functions_spark.plans import chain
from raster_functions_spark.sources import feature_service as fs
from raster_functions_spark.streaming import ingest


# ------------------------------------------------------------- chain -------

def test_chain_pointwise_fusion(spark):
    spec = [
        {"op": "stretch", "args": {"band": 0, "in_min": 0, "in_max": 255,
                                   "out_min": 0, "out_max": 1}},
        {"op": "calculator", "args": {"expression": "a * 2.0 + 1.0",
                                      "band_names": {"a": 0}}},
    ]
    df = fixtures.dem_scene_df(spark, "c0", 2, 1, 16)
    out = chain.build_chain(df, spec, fmt_out="raw").toPandas()
    assert len(out) == 2
    full = fixtures.dem_scene(2, 1, 16).astype(np.float64)
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        tile = full[:, r.tx * 16:(r.tx + 1) * 16]
        want = (tile / 255.0).clip(0, 1) * 2.0 + 1.0
        assert np.allclose(got, want.astype(np.float32), atol=1e-5)


def test_chain_with_focal_stage(spark):
    """Pointwise → focal → pointwise: VineyardAnalysis.rft.xml shape."""
    spec = json.dumps([
        {"op": "hillshade", "args": {"cellsize": 0.001}},
        {"op": "stretch", "args": {"band": 0, "in_min": 0, "in_max": 255,
                                   "out_min": 0, "out_max": 1}},
    ])
    df = fixtures.dem_scene_df(spark, "c1", 2, 2, 16)
    out = chain.build_chain(df, spec, fmt_out="raw").toPandas()
    assert len(out) == 4
    full = fixtures.dem_scene(2, 2, 16).astype(np.float64)
    hs = focal.hillshade_np(np.pad(full, 1, mode="edge"), 0.001)
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        want = (hs[r.ty * 16:(r.ty + 1) * 16, r.tx * 16:(r.tx + 1) * 16] / 255.0)
        assert np.allclose(got, want.astype(np.float32), atol=1e-5)


def _unfused_chain(df, ops, meta_cols=()):
    """Reference composition for build_chain's halo fusion: pointwise runs
    as their own apply_chain passes around each apply_focal."""
    from raster_functions_spark.raster import apply_chain
    cur, pending = df, []
    for op in ops:
        if not op.padding:
            pending.append(op)
            continue
        if pending:
            cur = apply_chain(cur, pending, fmt_out="zlib", meta_cols=meta_cols)
            pending = []
        cur = focal.apply_focal(cur, op, fmt_out="zlib",
                                meta_cols=tuple(dict.fromkeys(("cell_dx", *meta_cols))))
    if pending:
        cur = apply_chain(cur, pending, fmt_out="zlib", meta_cols=meta_cols)
    return cur


def _tile_bytes(df):
    return {(r["scene_id"], r["tx"], r["ty"]): bytes(r["bytes"])
            for r in df.select("scene_id", "tx", "ty", "bytes").collect()}


_STRETCH = {"op": "stretch", "args": {"band": 0, "in_min": 0, "in_max": 255,
                                      "out_min": 0, "out_max": 1}}


@pytest.mark.parametrize("spec, meta_cols", [
    ([{"op": "hillshade", "args": {"cellsize": 0.001}}, _STRETCH], ()),
    ([_STRETCH, {"op": "slope", "args": {"geographic": True}}, _STRETCH],
     ("cell_dx", "cell_dy")),
    ([{"op": "slope", "args": {}}, _STRETCH,
      {"op": "focal_statistics", "args": {"measure": "mean", "size": 3}},
      {"op": "calculator", "args": {"expression": "a * 2.0", "band_names": {"a": 0}}}],
     ()),
], ids=["hillshade-stretch", "stretch-slope-stretch-meta", "two-focal"])
def test_chain_halo_fusion_matches_unfused(spark, spec, meta_cols):
    """Pointwise ops fused into a halo stage give the bytes of the unfused
    apply_chain(apply_focal(apply_chain(df, pre), F), post) composition."""
    df = fixtures.dem_scene_df(spark, "f0", 3, 2, 16)
    got = _tile_bytes(chain.build_chain(df, spec, fmt_out="zlib", meta_cols=meta_cols))
    want = _tile_bytes(_unfused_chain(df, chain.parse_chain(spec), meta_cols))
    assert len(got) == 6 and got == want


def test_chain_halo_fusion_mask_erode_post_op(spark):
    """mask_erode reads the halo validity map; a pointwise op after it
    runs on its output in the assemble pass, same bytes as unfused."""
    import pandas as pd
    rng = np.random.default_rng(7)
    rows = [{"scene_id": "m", "tx": tx, "ty": ty,
             "bytes": codec.encode(np.stack(
                 [rng.random((8, 8)).astype(np.float32),
                  (rng.random((8, 8)) > 0.2).astype(np.float32)]), "raw")}
            for ty in range(2) for tx in range(3)]
    df = spark.createDataFrame(pd.DataFrame(rows))
    spec = [{"op": "mask_erode", "args": {"size": 3}},
            {"op": "mask_apply", "args": {"value_band": 0, "mask_band": 1,
                                          "nodata": -1.0}}]
    got = _tile_bytes(chain.build_chain(df, spec, fmt_out="zlib"))
    want = _tile_bytes(_unfused_chain(df, chain.parse_chain(spec)))
    assert len(got) == 6 and got == want


def test_chain_halo_fusion_post_op_meta_is_the_chains(spark, monkeypatch):
    """A fused post op gets only the chain's meta_cols, not the halo's
    cell_dx extension: zone_band_from_cells falls back to dx = 0.001 when
    meta lacks cell_dx, as it does under apply_chain."""
    from raster_functions_spark.operators import zonal
    monkeypatch.setitem(chain.REGISTRY, "zone_band", zonal.zone_band_from_cells)
    df = (fixtures.dem_scene_df(spark, "z0", 3, 2, 16)
          .withColumn("cell_dx", F.lit(0.004))
          .withColumn("xmin", F.col("tx") * 0.064)
          .withColumn("ymax", F.col("ty") * -0.016))
    spec = [{"op": "hillshade", "args": {"cellsize": 0.001}},
            {"op": "zone_band", "args": {"res": 15, "n_zones": 20}}]
    meta_cols = ("xmin", "ymax")
    got = _tile_bytes(chain.build_chain(df, spec, fmt_out="zlib", meta_cols=meta_cols))
    want = _tile_bytes(_unfused_chain(df, chain.parse_chain(spec), meta_cols))
    assert len(got) == 6 and got == want
    # the rule is observable: with cell_dx in its meta the op's zones differ
    op = zonal.zone_band_from_cells(15, 20)
    px = np.zeros((1, 16, 16), np.float32)
    meta = {"xmin": 0.064, "ymax": 0.0}
    assert not np.array_equal(op.apply(px, meta), op.apply(px, {**meta, "cell_dx": 0.004}))


def test_stack_tiles_subset_key_branch(spark):
    """A branch keyed by tile position only (a composite over the scenes)
    attaches its tile to every member row with that position."""
    members = fixtures.dem_scene_df(spark, "m0", 2, 2, 8).unionByName(
        fixtures.dem_scene_df(spark, "m1", 2, 2, 8))
    comp = spark.createDataFrame(
        [(tx, ty, codec.encode(np.full((1, 8, 8), 10 * tx + ty, np.uint8)))
         for tx in range(2) for ty in range(2)], "tx long, ty long, bytes binary")
    z = fixtures.dem_scene(2, 2, 8)
    out = chain.stack_tiles([members, comp], fmt_out="raw").collect()
    assert sorted((r["scene_id"], r["tx"], r["ty"]) for r in out) == [
        (s, tx, ty) for s in ("m0", "m1") for tx in range(2) for ty in range(2)]
    for r in out:
        px = codec.decode(bytes(r["bytes"]))
        assert (px.shape, px.dtype, r["bands"], r["cell_dx"]) == (
            (2, 8, 8), np.float32, 2, fixtures.CELL_DEG)
        tx, ty = r["tx"], r["ty"]
        assert np.array_equal(px[0], z[ty * 8:(ty + 1) * 8, tx * 8:(tx + 1) * 8])
        assert (px[1] == 10 * tx + ty).all()


def test_chain_unknown_op():
    with pytest.raises(ValueError, match="unknown operator"):
        chain.parse_chain([{"op": "does_not_exist"}])


def test_chain_register_plugin(spark):
    from raster_functions_spark.raster import TileOp
    chain.register("double", lambda: TileOp("double", lambda px, m: px * 2))
    ops = chain.parse_chain([{"op": "double"}])
    assert ops[0].name == "double"


# ----------------------------------------------------------- sources -------

def test_zones_from_json_literal(spark):
    src = json.dumps({"1": [[0, 10, 100]], "2": [[None, 5, None], [5, None, 7]]})
    df = fs.zones_from_json(spark, src).toPandas()
    assert len(df) == 3
    assert df[df.zone_id == 1].iloc[0].zval == 100.0
    open_ended = df[(df.zone_id == 2) & (df.zmax == 5.0)].iloc[0]
    assert np.isnan(open_ended.zval) and np.isnan(open_ended.zmin)


def test_feature_service_points_and_envelope(spark):
    doc = {"features": [
        {"attributes": {"zone_id": 1, "attr1": 5.0}, "geometry": {"x": 1.0, "y": 2.0}},
        {"attributes": {"zone_id": 2, "attr1": 7.0}, "geometry": {"x": 50.0, "y": 60.0}},
    ]}
    df = fs.features_from_service_json(spark, doc, envelope=(0, 0, 10, 10))
    rows = df.collect()
    assert len(rows) == 1 and rows[0].zone_id == 1


def test_feature_service_polygons_where_and_fetcher(spark):
    doc = json.dumps({"features": [
        {"attributes": {"aoi_id": 1},
         "geometry": {"rings": [[[0, 0], [4, 0], [4, 4], [0, 4]]]}},
        {"attributes": {"aoi_id": 2},
         "geometry": {"rings": [[[100, 0], [104, 0], [104, 4], [100, 4]]]}},
    ]})
    fetched = []
    def fake_fetch(url):
        fetched.append(url)
        return doc
    df = fs.features_from_service_json(spark, "http://svc/query", fetcher=fake_fetch,
                                       where="aoi_id = 1")
    rows = df.collect()
    assert fetched == ["http://svc/query"]
    assert len(rows) == 1 and rows[0].xmax == 4.0


def test_catalog_binary_dir(spark, tmp_path):
    for i in range(3):
        px = fixtures.gen_pixels(i)
        (tmp_path / f"t{i}.rf").write_bytes(codec.encode(px, "zlib"))
    out = fs.catalog_binary_dir(spark, str(tmp_path)).toPandas()
    assert len(out) == 3
    assert set(out.fmt) == {"zlib"}
    assert set(out.bands) == {1, 2, 6}


# --------------------------------------------------------- streaming -------

def test_windowed_event_counts_stream(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stream = (spark.readStream.schema(events.schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet("/root/testdata/sf0.001"))
    agg = ingest.windowed_event_counts(stream, "1 hour")
    got = ingest.run_available_now(agg, "t_windowed")
    batch = (events.withColumn("ts", F.col("ts").cast("timestamp"))
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n")))
    assert got.count() == batch.count()
    # spot-check one window's count
    g1 = got.orderBy("window.start", "event_type").first()
    b1 = batch.orderBy("window.start", "event_type").first()
    assert g1.n == b1.n and g1.event_type == b1.event_type


def test_stream_checkpointed_sink_resume(spark, tmp_path):
    src_schema = spark.read.parquet("/root/testdata/sf0.001/events.parquet").schema
    stream = (spark.readStream.schema(src_schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet("/root/testdata/sf0.001"))
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = ingest.stream_to_checkpointed_sink(stream, out, ckpt, "t_sink")
    q.awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 == 1000
    # restart with same checkpoint: no files reprocessed (exactly-once)
    stream2 = (spark.readStream.schema(src_schema)
               .option("pathGlobFilter", "events.parquet")
               .parquet("/root/testdata/sf0.001"))
    q2 = ingest.stream_to_checkpointed_sink(stream2, out, ckpt, "t_sink2")
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n1


def test_checkpointed_write_converges_with_empty_buckets(spark, tmp_path):
    """Buckets that receive zero rows must still be recorded as done —
    before, every later call re-ran the whole write for the permanently
    'missing' buckets and the fast path was unreachable."""
    from raster_functions_spark import lineage
    df = (spark.range(0, 8)
          .withColumnRenamed("id", "k")
          .withColumn("v", F.col("k") * 2))
    path = str(tmp_path / "ckpt")
    m1 = lineage.checkpointed_write(df, path, "k", n_buckets=64,
                                    run_id="r1")
    assert len(m1["buckets"]) == 64                # incl. empty buckets
    zero = [b for b, info in m1["buckets"].items() if info["rows"] == 0]
    assert zero                                     # 8 rows over 64 buckets
    # second call: fast path (no new run recorded, manifest unchanged)
    m2 = lineage.checkpointed_write(df, path, "k", n_buckets=64,
                                    run_id="r2")
    assert [r["run_id"] for r in m2["run_ids"]] == ["r1"]
    assert lineage.read_checkpointed(spark, path).count() == 8


def test_envelope_filter_mixed_point_polygon_features(spark):
    """A feature set mixing point and polygon geometries: points inside
    the envelope must survive (the old column-existence dispatch null-
    filtered every point row), and multipart polygons use the FULL
    geometry extent."""
    from raster_functions_spark.sources import feature_service as fsvc
    doc = {"features": [
        {"attributes": {"fid": 1}, "geometry": {"x": 5.0, "y": 5.0}},
        {"attributes": {"fid": 2}, "geometry": {"x": 50.0, "y": 5.0}},
        {"attributes": {"fid": 3}, "geometry": {"rings": [
            [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]],
            [[10, 0], [11, 0], [11, 1], [10, 1], [10, 0]]]}},
    ]}
    df = fsvc.features_from_service_json(spark, doc, envelope=(4, 0, 12, 6))
    fids = sorted(r["fid"] for r in df.collect())
    # point fid=1 inside; fid=2 outside; polygon fid=3 intersects via its
    # SECOND ring's extent (first ring alone would be excluded)
    assert fids == [1, 3]
