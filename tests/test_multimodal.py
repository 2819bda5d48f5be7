import numpy as np
import pytest

from raster_functions_spark import codec, fixtures, formats, jpeg, multimodal


def test_image_features_engine_format(spark):
    imgs = fixtures.images_df(spark, 40)
    out = multimodal.image_features(imgs).toPandas().set_index("image_id")
    assert len(out) == 40
    for i in [1, 5, 9]:  # red/NIR u1 tiles (lossless fmt rows)
        if fixtures.tile_fmt(i) == "dct":
            continue
        px = fixtures.gen_pixels(i).astype(np.float64)
        row = out.loc[f"img{i:09d}"]
        assert np.isclose(row.px_mean, px.mean(), atol=1e-9)
        assert np.isclose(row.px_max, px.max(), atol=1e-9)


def test_image_features_dispatches_by_magic_bytes(spark):
    """The PNG and JPEG fixture tables carry no format column: every row
    decodes by its magic bytes, none comes back null."""
    for table, pixels in (
            (fixtures.png_images_df(spark, 6), fixtures.png_fixture_pixels),
            (fixtures.jpeg_images_df(spark, 6),
             lambda i: jpeg.decode_jpeg(fixtures.jpeg_fixture_payload(i)))):
        out = multimodal.image_features(table).toPandas()
        assert len(out) == 6
        for iid, mean in zip(out.image_id, out.px_mean):
            want = pixels(int(iid[3:])).astype(np.float64).mean()
            assert np.isclose(mean, want, rtol=0, atol=1e-9)


def test_external_decode_raises():
    """JPEG decodes for real now (jpeg.py) — malformed payloads with a JPEG
    magic raise ValueError, as do unknown magics."""
    with pytest.raises(ValueError):
        formats.decode_image_any(b"\xff\xd8\xff\xe0fakejpeg")
    with pytest.raises(ValueError, match="unrecognized"):
        formats.decode_image_any(b"\x01\x02\x03\x04")
    # a REAL jpeg payload decodes
    px = np.full((3, 8, 8), 77, np.uint8)
    out = formats.decode_image_any(jpeg.encode_jpeg(px, quality=95))
    assert out.shape == (3, 8, 8)


def test_resize_tiles(spark):
    imgs = fixtures.images_df(spark, 12)
    out = multimodal.resize_tiles(imgs, 16, 16).toPandas()
    assert (out.w == 16).all() and (out.h == 16).all()
    for _, row in out.iterrows():
        px = codec.decode(bytes(row["bytes"]))
        assert px.shape[1:] == (16, 16)
    # box-mean of a constant tile stays constant
    i = 3  # kind-3 constant tile (i%8==3)
    row = out[out.image_id == f"img{i:09d}"].iloc[0]
    want = fixtures.gen_pixels(i).astype(np.float64).mean()
    got = codec.decode(bytes(row["bytes"]))
    assert np.isclose(got.mean(), want, atol=0.5)


def test_frame_sample(spark):
    imgs = fixtures.images_df(spark, 12).filter("bands = 6")
    out = multimodal.frame_sample(imgs, 2).toPandas()
    assert (out.bands == 3).all()
    px = codec.decode(bytes(out.iloc[0]["bytes"]))
    assert px.shape[0] == 3


def test_augment_tiles_matches_python_replay(spark):
    import hashlib
    import numpy as np
    from raster_functions_spark import codec, fixtures, multimodal

    dem = fixtures.dem_scene_df(spark, "sceneT", 2, 2, 32, dtype="f8")
    orig = {(r["tx"], r["ty"]): codec.decode(bytes(r["bytes"]))
            for r in dem.collect()}
    out = multimodal.augment_tiles(dem, 16, 12, seed=7,
                                   fmt_out="raw").collect()
    assert len(out) == 4
    for r in out:
        u = int(hashlib.md5(
            f"{r['tx']},{r['ty']}:7".encode()).hexdigest()[:15], 16)
        hf, vf = bool(u % 2), bool((u // 2) % 2)
        oy, ox = (u // 4) % (32 - 16 + 1), (u // 4096) % (32 - 12 + 1)
        assert (r["hflip"], r["vflip"], r["oy"], r["ox"]) == (hf, vf, oy, ox)
        want = orig[(r["tx"], r["ty"])][:, oy:oy + 16, ox:ox + 12]
        if vf:
            want = want[:, ::-1, :]
        if hf:
            want = want[:, :, ::-1]
        got = codec.decode(bytes(r["bytes"]))
        assert got.shape == want.shape == (1, 16, 12)
        assert np.allclose(got, want.astype(np.float32))
    # determinism: same seed → identical bytes; different seed → different
    a = {(r["tx"], r["ty"]): bytes(r["bytes"]) for r in out}
    b = {(r["tx"], r["ty"]): bytes(r["bytes"]) for r in
         multimodal.augment_tiles(dem, 16, 12, seed=7, fmt_out="raw").collect()}
    assert a == b
    import pytest
    with pytest.raises(Exception):
        multimodal.augment_tiles(dem, 64, 64).collect()


def test_patchify_tiles_flatten_order_multiband(spark):
    """Patch grid, sequence index and the band-major row-major flatten
    checksum on a MULTI-band image (the DuckDB contract fixture is
    single-band, so the band-major ordering is pinned here)."""
    imgs = fixtures.images_df(spark, 8).filter("image_id = 'img000000006'")
    row = imgs.collect()[0]
    px = codec.decode(bytes(row["bytes"])).astype(np.float64)
    bands, h, w = px.shape
    assert bands > 1
    ph, pw = h // 2, w // 2
    out = multimodal.patchify_tiles(imgs, ph, pw).orderBy("seq").collect()
    assert [r["seq"] for r in out] == [0, 1, 2, 3]
    assert [(r["pr"], r["pc"]) for r in out] == [(0, 0), (0, 1), (1, 0), (1, 1)]
    for r in out:
        want = px[:, r["pr"] * ph:(r["pr"] + 1) * ph,
                  r["pc"] * pw:(r["pc"] + 1) * pw]
        got = codec.decode(bytes(r["bytes"]))
        assert got.shape == (bands, ph, pw)
        np.testing.assert_allclose(got, want)
        flat = want.reshape(-1)
        assert r["psum"] == pytest.approx(flat.sum())
        assert r["pchk"] == pytest.approx(
            float(flat @ np.arange(1, flat.size + 1, dtype=np.float64)))


def test_patchify_tiles_rejects_non_divisible(spark):
    imgs = fixtures.images_df(spark, 4)
    with pytest.raises(Exception, match="not divisible"):
        multimodal.patchify_tiles(imgs, 7, 7).collect()
