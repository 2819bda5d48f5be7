"""raster: the encoded-tile row contract shared by every tile emitter, and
the fused decode → chain loop behind apply_chain / tile_stats."""

from functools import reduce

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from raster_functions_spark import codec, fixtures, multimodal
from raster_functions_spark.operators import (
    focal, hydro, ml, multiraster as mr, pointwise, pyramid, stack)
from raster_functions_spark.plans import chain
from raster_functions_spark.raster import (
    TILE_COLS, TILE_FIELDS, TileOp, apply_chain, tile_row, tile_stats)

TILE = 8
KEYS = ["scene_id", "tx", "ty"]


def _emitters(spark) -> dict[str, DataFrame]:
    """One tiny output per tile emitter, by name. ``dem`` is a 1-band f4
    zlib tile table; ``stk`` a 2-band u2 time stack with a QA band."""
    dem = fixtures.dem_scene_df(spark, "c", 2, 2, TILE)
    stk = fixtures.stack_images_df(spark, n_scenes=2, n_times=24, tile=TILE)
    return {
        "raster.apply_chain": apply_chain(stk, [], fmt_out="rle"),
        "chain.stack_tiles": chain.stack_tiles([dem, dem], fmt_out="raw"),
        "focal.apply_focal": focal.apply_focal(dem, focal.slope()),
        "stack.stack_composite": stack.stack_composite(
            stk, "median", qa_band=1, clear_values=fixtures.QA_CLEAR_C1),
        "stack.stack_topk_assoc": stack.stack_topk_assoc(stk, k=2),
        "stack.merge_mean_partials": stack.stack_mean_assoc(stk, fmt_out="raw"),
        "stack.mean_partial_tiles": stack.mean_partial_tiles(stk, fmt_out="rle"),
        "multiraster.two_raster_op": mr.two_raster_op(
            dem, dem, mr.mask_raster_fn(), KEYS),
        "multiraster.topographic_c_correction": mr.topographic_c_correction(
            dem, dem, KEYS, sun_azimuth=225.0, sun_elevation=45.0),
        "multiraster.cloud_fill_scene": mr.cloud_fill_scene(
            dem, dem, dem, tile=TILE),
        "multiraster.cloud_fill": mr.cloud_fill(dem, dem, dem, KEYS),
        "pyramid.pyramid_level": pyramid.pyramid_level(dem, TILE),
        "ml.sarima_template_delta": ml.sarima_template_delta(
            stk, 2000, 2000, 2001, 2002, 6),
        "ml.sarima_stack_delta": ml.sarima_stack_delta(stk, horizon=6),
        "hydro.finalize": hydro.flow_accumulation_distributed(dem, TILE),
        "hydro.finalize_raw": hydro.flow_accumulation_distributed(
            dem, TILE, fmt_out="raw"),
        "hydro.cti_scene": hydro.cti_scene(dem, TILE),
        "multimodal.resize_tiles": multimodal.resize_tiles(dem, 4, 4, fmt_out="raw"),
        "multimodal.frame_sample": multimodal.frame_sample(stk, 2),
        "multimodal.augment_tiles": multimodal.augment_tiles(dem, 4, 6, fmt_out="raw"),
        "multimodal.patchify_tiles": multimodal.patchify_tiles(stk, 4, 4, fmt_out="raw"),
    }


def test_every_tile_emitter_matches_its_header(spark):
    """Each emitter's w/h/bands/dtype/fmt columns equal the header of the
    bytes they sit beside, and its schema ends in TILE_FIELDS."""
    outs = _emitters(spark)
    for name, df in outs.items():
        assert [f for f in df.schema if f.name in TILE_COLS] == TILE_FIELDS, name
    rows = reduce(DataFrame.unionByName, [
        df.select(F.lit(name).alias("emitter"), *TILE_COLS)
        for name, df in outs.items()]).collect()
    assert {r["emitter"] for r in rows} == set(outs)
    for r in rows:
        hdr = codec.peek_header(bytes(r["bytes"]))
        got = {c: r[c] for c in ("w", "h", "bands", "dtype", "fmt")}
        assert got == {c: hdr[c] for c in got}, r["emitter"]
    # shapes and types are read off the arrays, not restated per emitter
    dtypes = {(r["emitter"], r["dtype"]) for r in rows}
    assert ("raster.apply_chain", "u2") in dtypes
    assert ("hydro.finalize", "f8") in dtypes
    assert ("multiraster.cloud_fill", "f4") in dtypes
    assert ("multimodal.patchify_tiles", "u2") in dtypes


def test_tile_row_reads_shape_and_dtype_off_the_array():
    px = np.arange(2 * 3 * 5, dtype=np.uint16).reshape(2, 3, 5)
    row = tile_row(px, "rle")
    assert list(row) == list(TILE_COLS)
    assert row == {"bytes": codec.encode(px, "rle"), "w": 5, "h": 3, "bands": 2,
                   "dtype": "u2", "fmt": "rle"}
    flat = tile_row(px[0].astype(np.float64), "raw")          # (h, w) → 1 band
    assert (flat["bands"], flat["h"], flat["w"], flat["dtype"]) == (1, 3, 5, "f8")
    assert np.array_equal(codec.decode(flat["bytes"])[0], px[0])


def test_chain_ops_see_row_meta_and_apply_in_order(spark):
    """apply_chain and tile_stats share one decode → ops loop: ops see the
    row's meta columns and run in list order, once per tile."""
    df = fixtures.dem_scene_df(spark, "m", 2, 1, TILE).withColumn(
        "off", F.col("tx").cast("double") * 10.0)
    add = TileOp("add_off", lambda px, m: px + np.float32(m["off"]))
    dbl = TileOp("double", lambda px, m: px * np.float32(2.0))
    z = fixtures.dem_scene(2, 1, TILE)
    want = {tx: (z[:, tx * TILE:(tx + 1) * TILE] + np.float32(10.0 * tx)) * np.float32(2.0)
            for tx in range(2)}
    tiles = apply_chain(df, [add, dbl], fmt_out="raw", meta_cols=["off"]).collect()
    assert sorted(r["tx"] for r in tiles) == [0, 1]
    for r in tiles:
        assert np.array_equal(codec.decode(bytes(r["bytes"]))[0], want[r["tx"]])
    sums = tile_stats(df, [add, dbl], {"s": lambda px, m: float(px.sum())},
                      meta_cols=["off"], keep_cols=["tx"]).collect()
    for r in sums:
        assert r["s"] == pytest.approx(float(want[r["tx"]].sum()), rel=1e-6)


def test_padded_ops_are_rejected_at_plan_time(spark):
    df = fixtures.dem_scene_df(spark, "p", 1, 1, TILE)
    for build in (lambda: apply_chain(df, [focal.slope()]),
                  lambda: tile_stats(df, [focal.slope()], {"s": lambda px, m: 0.0})):
        with pytest.raises(ValueError, match="apply_focal"):
            build()
    apply_chain(df, [pointwise.stretch(0, in_min=0, in_max=255)])  # zero padding: fine
