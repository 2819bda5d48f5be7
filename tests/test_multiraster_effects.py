import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import codec, fixtures
from raster_functions_spark.operators import effects, multiraster as mr


def _tile_df(spark, arrays, key=("scene_id", "tx", "ty")):
    rows = []
    for i, a in enumerate(arrays):
        rows.append({"scene_id": "s", "tx": i, "ty": 0,
                     "bytes": codec.encode(np.asarray(a))})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_dnbr_two_raster(spark):
    rng = np.random.default_rng(0)
    pre = [rng.integers(1, 200, (2, 8, 8)).astype(np.float32) for _ in range(3)]
    post = [rng.integers(1, 200, (2, 8, 8)).astype(np.float32) for _ in range(3)]
    out = mr.two_raster_op(_tile_df(spark, pre), _tile_df(spark, post),
                           mr.dnbr_fn(), ["scene_id", "tx", "ty"],
                           fmt_out="raw").toPandas()
    assert len(out) == 3
    for _, r in out.iterrows():
        i = int(r.tx)
        def nbr(px):
            n, s = px[0].astype(np.float64), px[1].astype(np.float64)
            return (n - s) / (n + s)
        want = nbr(pre[i]) - nbr(post[i])
        got = codec.decode(bytes(r["bytes"]))[0]
        assert np.allclose(got, want, atol=1e-6)


def test_mask_raster_two_raster(spark):
    v = [np.full((1, 4, 4), 9.0, dtype=np.float32)]
    m = [np.array([[[1, 0], [0, 1]]], dtype=np.uint8).repeat(2, 1).repeat(2, 2)]
    out = mr.two_raster_op(_tile_df(spark, v), _tile_df(spark, m),
                           mr.mask_raster_fn(nodata=-1.0),
                           ["scene_id", "tx", "ty"], fmt_out="raw").toPandas()
    got = codec.decode(bytes(out.iloc[0]["bytes"]))[0]
    assert set(np.unique(got)) == {-1.0, 9.0}


def _cos_i(z, az_deg, el_deg):
    from raster_functions_spark.operators.focal import slope_aspect_np
    sz, az = np.radians(90 - el_deg), np.radians(az_deg)
    sl_d, as_d = slope_aspect_np(np.pad(z, 1, mode="edge"), 1.0)
    sl = np.radians(sl_d)
    asp = np.radians(np.where(as_d < 0, 0.0, as_d))
    return np.cos(sz) * np.cos(sl) + np.sin(sz) * np.sin(sl) * np.cos(az - asp)


def test_topographic_c_correction(spark):
    """Image = a·cos_i + b exactly ⇒ corrected image is flat (the whole
    point of the C-correction: remove the illumination dependence)."""
    rng = np.random.default_rng(1)
    tiles, imgs, cis = [], [], []
    for i in range(4):
        z = (rng.random((16, 16)) * 4).astype(np.float64)  # gentle terrain
        ci = _cos_i(z, 225.0, 45.0)
        img = (80.0 * ci + 20.0).astype(np.float32)
        tiles.append(z.astype(np.float32)[None])
        imgs.append(img[None])
        cis.append(ci)
    out = mr.topographic_c_correction(_tile_df(spark, tiles), _tile_df(spark, imgs),
                                      ["scene_id", "tx", "ty"],
                                      sun_azimuth=225.0, sun_elevation=45.0,
                                      cellsize=1.0, fmt_out="raw").toPandas()
    assert len(out) == 4
    want_const = 80.0 * (np.cos(np.radians(45.0)) + 0.25)
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        # corrected = a·(cos sz + C), constant, with C = b/a = 0.25
        assert np.isclose(r.c_factor, 0.25, atol=1e-6)
        lit = cis[int(r.tx)] > 0.05
        assert lit.mean() > 0.8                     # gentle terrain mostly lit
        assert np.allclose(got[lit], want_const, atol=1e-3)


def test_topographic_c_correction_degenerate_is_identity(spark):
    """Uncorrelated image → slope≈0 → null C → identity passthrough."""
    rng = np.random.default_rng(2)
    tiles = [(rng.random((16, 16)) * 40).astype(np.float32)[None] for _ in range(2)]
    imgs = [np.full((1, 16, 16), 100.0, dtype=np.float32) for _ in range(2)]
    out = mr.topographic_c_correction(_tile_df(spark, tiles), _tile_df(spark, imgs),
                                      ["scene_id", "tx", "ty"],
                                      sun_azimuth=225.0, sun_elevation=45.0,
                                      fmt_out="raw").toPandas()
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        assert np.allclose(got, 100.0)


def test_ring_fill_recovers_constant():
    """A constant target with a hole filled from an offset replacement
    must recover the constant (local gain/offset matching)."""
    t = np.full((24, 24), 50.0)
    r = np.full((24, 24), 200.0)  # radiometrically offset replacement
    mask = np.zeros((24, 24))
    mask[8:16, 8:16] = 1          # hole
    out = mr.ring_fill_np(t, r, mask, window=8)
    assert np.allclose(out, 50.0, atol=1e-6)


def test_ring_fill_gradient():
    yy, xx = np.mgrid[0:32, 0:32]
    t = (xx * 2.0).astype(np.float64)
    r = t * 0.5 + 30.0            # linearly related replacement
    mask = np.zeros((32, 32)); mask[10:20, 10:20] = 1
    out = mr.ring_fill_np(t.copy(), r, mask, window=10)
    want = t[10:20, 10:20]
    assert np.abs(out[10:20, 10:20] - want).mean() < 3.0


def test_cloud_fill_pipeline(spark):
    t = [np.full((1, 16, 16), 80.0, dtype=np.float32)]
    r = [np.full((1, 16, 16), 120.0, dtype=np.float32)]
    m = [np.pad(np.ones((1, 4, 4), np.uint8), ((0, 0), (6, 6), (6, 6)))]
    out = mr.cloud_fill(_tile_df(spark, t), _tile_df(spark, r), _tile_df(spark, m),
                        ["scene_id", "tx", "ty"], fmt_out="raw").toPandas()
    got = codec.decode(bytes(out.iloc[0]["bytes"]))[0]
    assert np.allclose(got, 80.0, atol=1e-6)


def test_aligned_ops_reject_mismatched_tile_shapes(spark):
    """Sides whose tiles differ in (h, w) at the same key raise one
    ValueError naming the row's keys, instead of broadcasting or failing
    inside the kernel."""
    big = fixtures.dem_scene_df(spark, "s", 1, 1, 32)
    small = fixtures.dem_scene_df(spark, "s", 1, 1, 16)
    keys = ["scene_id", "tx", "ty"]
    for build in (lambda: mr.two_raster_op(big, small, mr.dnbr_fn(0, 0), keys),
                  lambda: mr.cloud_fill(big, small, big, keys),
                  lambda: mr.cloud_fill(small, small, big, keys)):
        with pytest.raises(Exception, match=r"aligned tiles differ in \(h, w\) at "
                                            r"scene_id=s, tx=0, ty=0"):
            build().collect()


def test_cubism_blocks_constant():
    px = np.arange(64, dtype=np.float32).reshape(1, 8, 8)
    out = effects.cubism(block=4).apply(px, {})
    for by in range(2):
        for bx in range(2):
            blk = out[0, by * 4:(by + 1) * 4, bx * 4:(bx + 1) * 4]
            assert np.allclose(blk, blk[0, 0])
            assert np.isclose(blk[0, 0], px[0, by * 4:(by + 1) * 4, bx * 4:(bx + 1) * 4].mean())


def test_chuck_close_levels():
    rng = np.random.default_rng(2)
    px = rng.integers(0, 255, (1, 16, 16)).astype(np.float32)
    out = effects.chuck_close(block=4, levels=3).apply(px, {})
    assert len(np.unique(out)) <= 3


def test_hexagon_pixels_aggregate(spark):
    df = fixtures.dem_scene_df(spark, "h", 2, 2, 32)
    df = (df.withColumn("xmin", F.col("tx") * 0.032 + 10.0)
          .withColumn("ymax", 45.0 - F.col("ty") * 0.032)
          .withColumn("cell_dy", F.lit(0.001)))
    out = effects.hexagon_pixels(df, size_deg=0.01).toPandas()
    assert len(out) > 4                       # multiple hexes
    total_px = int(out.n_px.sum())
    assert total_px == 4 * 32 * 32            # every pixel binned exactly once
    full = fixtures.dem_scene(2, 2, 32).astype(np.float64)
    # global mean preserved
    got_mean = (out["mean"] * out.n_px).sum() / total_px
    assert abs(got_mean - full.mean()) < 1e-6


def test_topographic_c_negative_c_no_inf():
    """A negative C factor puts the cos_i + C denominator through zero for
    lit pixels — those must stay uncorrected (finite), never encode inf."""
    import numpy as np
    ci = np.array([[0.5, 0.52, 0.9]])
    v = np.full_like(ci, 100.0)
    C = -0.51
    lit = (ci > 0.05) & (np.abs(ci + C) > 0.05)
    corr = np.where(lit, v * (np.cos(0.3) + C) / np.where(lit, ci + C, 1.0), v)
    assert np.isfinite(corr).all()
    assert corr[0, 0] == 100.0 and corr[0, 1] == 100.0   # near-singular: passthrough
    assert corr[0, 2] != 100.0                            # well-conditioned: corrected
