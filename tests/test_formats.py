"""From-scratch BMP / PNM / WAV codecs (formats.py) + multimodal wiring."""

import struct

import numpy as np
import pandas as pd
import pytest

from raster_functions_spark import formats, multimodal


def _img(bands, h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (bands, h, w), dtype=np.uint8)


# ---------------------------------------------------------------- BMP ------

@pytest.mark.parametrize("bands,h,w", [(1, 7, 5), (1, 32, 32), (3, 9, 6), (3, 16, 33)])
def test_bmp_roundtrip(bands, h, w):
    px = _img(bands, h, w, seed=bands * h + w)
    buf = formats.encode_bmp(px)
    out = formats.decode_bmp(buf)
    assert out.shape == (bands, h, w)
    assert np.array_equal(out, px)


def test_bmp_golden_layout():
    """Hand-check the byte layout on a tiny 24-bit image: bottom-up BGR
    rows padded to 4 bytes, pixel data at the declared offset."""
    px = np.zeros((3, 2, 1), np.uint8)
    px[:, 0, 0] = (255, 0, 0)      # top pixel pure red
    px[:, 1, 0] = (0, 0, 255)      # bottom pixel pure blue
    buf = formats.encode_bmp(px)
    assert buf[:2] == b"BM"
    offset = struct.unpack_from("<I", buf, 10)[0]
    row_len = 4                    # 1 px × 3B padded to 4
    bottom = buf[offset:offset + row_len]
    top = buf[offset + row_len:offset + 2 * row_len]
    assert bottom[:3] == bytes([255, 0, 0])   # blue first (B,G,R)
    assert top[:3] == bytes([0, 0, 255])      # red as B=0,G=0,R=255


def test_bmp_top_down_and_color_palette():
    """Negative height = top-down rows; non-grey palettes expand to RGB."""
    px = _img(1, 4, 4, seed=3)
    buf = bytearray(formats.encode_bmp(px))
    # flip height sign → top-down; rows must then be reversed by us
    h = struct.unpack_from("<i", buf, 14 + 8)[0]
    struct.pack_into("<i", buf, 14 + 8, -h)
    out = formats.decode_bmp(bytes(buf))
    assert np.array_equal(out[0], px[0][::-1])


# ---------------------------------------------------------------- PNM ------

@pytest.mark.parametrize("bands", [1, 3])
def test_pnm_roundtrip(bands):
    px = _img(bands, 11, 13, seed=bands)
    out = formats.decode_pnm(formats.encode_pnm(px))
    assert np.array_equal(out, px)


def test_pnm_header_comments():
    px = _img(1, 2, 3, seed=9)
    buf = formats.encode_pnm(px)
    hacked = b"P5\n# a comment\n 3 # w\n2\n255\n" + buf.split(b"\n255\n", 1)[1]
    out = formats.decode_pnm(hacked)
    assert np.array_equal(out, px)


# ---------------------------------------------------------------- WAV ------

@pytest.mark.parametrize("ch", [1, 2])
def test_wav_roundtrip(ch):
    rng = np.random.default_rng(5)
    s = rng.integers(-32768, 32767, (ch, 400), dtype=np.int16)
    out, rate = formats.decode_wav(formats.encode_wav(s, 22050))
    assert rate == 22050
    assert np.array_equal(out, s)


def test_wav_tolerates_extra_chunks():
    s = np.arange(100, dtype=np.int16)[None]
    buf = formats.encode_wav(s, 8000)
    # splice a LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = struct.pack("<4sI", b"LIST", 4) + b"INFO"
    hacked = buf[:fmt_end] + extra + buf[fmt_end:]
    hacked = struct.pack("<4sI", b"RIFF", len(hacked) - 8) + hacked[8:]
    out, rate = formats.decode_wav(hacked)
    assert rate == 8000 and np.array_equal(out, s)


# ------------------------------------------------------------- wiring ------

def test_sniff_dispatch():
    assert formats.sniff(formats.encode_bmp(_img(1, 2, 2))) == "bmp"
    assert formats.sniff(formats.encode_pnm(_img(3, 2, 2))) == "pnm"
    assert formats.sniff(formats.encode_wav(np.zeros(4, np.int16))) == "wav"
    from raster_functions_spark import codec
    assert formats.sniff(codec.encode(_img(1, 2, 2))) == "rf"
    assert formats.sniff(b"\x89PNG\r\n") is None      # truncated signature
    assert formats.sniff(formats.encode_png(_img(1, 2, 2))) == "png"


def test_image_features_decodes_bmp_column(spark):
    """A binary column of real BMP payloads flows through the multimodal
    feature kernel without PIL."""
    rows = []
    for i in range(6):
        px = _img(3, 8, 8, seed=i)
        rows.append({"image_id": f"b{i}", "bytes": formats.encode_bmp(px),
                     "fmt": "bmp", "want_mean": float(px.mean())})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = multimodal.image_features(df, keep_cols=("image_id", "want_mean")).toPandas()
    assert len(out) == 6
    assert np.allclose(out["px_mean"], out["want_mean"])


def test_decode_image_any_rejects_malformed_jpeg():
    """JPEG now decodes for real (jpeg.py); a payload with the right magic
    but no scan must fail loudly, not hang."""
    with pytest.raises(ValueError):
        formats.decode_image_any(b"\xff\xd8\xff\xe0JFIF....")
    with pytest.raises(ValueError, match="unrecognized"):
        formats.decode_image_any(b"\x00\x11\x22\x33")


# ----------------------------------------------------------- ISO-BMFF ------

def test_mp4_mux_demux_roundtrip_chunk_mapping():
    """Samples recovered through stsc/stsz/stco byte ranges, not by
    scanning mdat — uneven sample sizes + 3-per-chunk layout exercise the
    run-length chunk map."""
    from raster_functions_spark import jpeg
    frames = []
    for t in range(8):
        px = _img(1, 8 + 4 * (t % 2), 8, seed=t)   # alternating sizes
        frames.append(jpeg.encode_jpeg(px, quality=85))
    buf = formats.encode_mp4_samples(frames, "jpeg", 8, 8)
    tag, out = formats.demux_mp4(buf)
    assert tag.strip() == "jpeg"
    assert [len(s) for s in out] == [len(f) for f in frames]
    assert all(a == b for a, b in zip(frames, out))
    meta = formats.peek_mp4(buf)
    assert meta["n_samples"] == 8 and meta["codec"].strip() == "jpeg"
    assert meta["duration_s"] > 0


def test_mp4_png_samples_decode():
    frames = [formats.encode_png(_img(1, 8, 8, seed=t)) for t in range(3)]
    buf = formats.encode_mp4_samples(frames, "png", 8, 8)
    tag, out = formats.demux_mp4(buf)
    assert tag.strip() == "png"
    for t, s in enumerate(out):
        assert np.array_equal(formats.decode_png(s), _img(1, 8, 8, seed=t))


def test_mp4_corrupt_and_foreign_codec():
    frames = [b"\x00" * 40, b"\x01" * 41]
    buf = formats.encode_mp4_samples(frames, "avc1", 16, 16)
    tag, out = formats.demux_mp4(buf)
    assert tag == "avc1" and len(out) == 2        # demux works regardless
    with pytest.raises(ValueError):
        formats.demux_mp4(buf[: len(buf) // 3])   # truncated: no moov
    with pytest.raises(ValueError, match="ftyp"):
        formats.demux_mp4(b"\x00" * 64)


def test_video_decode_metrics_quarantine(spark):
    """The Spark surface: mixed corpus (MJPEG / avc1 / truncated) —
    quarantine rows stay joinable, good rows carry exact sampled sums."""
    from raster_functions_spark import fixtures
    df = fixtures.mp4_videos_df(spark, 18)
    out = multimodal.video_decode_metrics(df, every_n=2).toPandas() \
        .set_index("video_id").sort_index()
    pdf = fixtures.mp4_videos_pdf(18)
    for i, (_, r) in enumerate(pdf.iterrows()):
        row = out.loc[r["video_id"]]
        if i % 9 == 8:
            assert not row["ok"] and row["n_frames"] == -1
        elif i % 5 == 4:
            assert not row["ok"] and row["codec"] == "avc1" \
                and row["n_frames"] == r["n_frames"]
        else:
            assert row["ok"] and row["n_decoded"] == -(-r["n_frames"] // 2)
            from raster_functions_spark import jpeg
            want = sum(int(jpeg.decode_jpeg(jpeg.encode_jpeg(
                fixtures._mp4_frame(i, t)[None], quality=90))
                .astype(np.int64).sum()) for t in range(0, r["n_frames"], 2))
            assert int(row["px_sum"]) == want


# ------------------------------------------------- codec headers (r5) ----

def test_h264_sps_roundtrip_and_hand_derived():
    """encode_avcc's baseline SPS parses back to the exact dims/profile,
    including the frame-cropping path; a hand-assembled SPS (bits written
    out longhand from ITU-T H.264 §7.3.2.1.1) anchors the parser
    independently of the writer."""
    from raster_functions_spark import formats as Fm
    # multiples of 16: no cropping
    p = Fm.parse_avcc(Fm.encode_avcc(64, 32, 66, 30)[8:])
    assert (p["w"], p["h"], p["profile_idc"], p["level_idc"]) == (64, 32, 66, 30)
    # crop path: 18x10 inside one 32x16 macroblock grid
    p = Fm.parse_avcc(Fm.encode_avcc(18, 10, 77, 40)[8:])
    assert (p["w"], p["h"], p["profile_idc"], p["level_idc"]) == (18, 10, 77, 40)
    # hand-built SPS: profile 66, level 30, 2x1 MBs (32x16), no crop.
    # Bits after the 3 header bytes: ue(0) sps_id=1; ue(0)x2; ue(0) poc;
    # ue(1)=010 refs; 0 gaps; ue(1)=010 pw; ue(0)=1 ph; 1 fmo; 1 d8x8;
    # 0 crop; 0 vui; stop 1 -> 1 010 1 0 1 0 1 010 1 1 1 0 0 1 + pad
    bw = Fm._BitWriter()
    bw.u(66, 8); bw.u(0, 8); bw.u(30, 8)
    for bits, n in ((1, 1), (1, 1), (1, 1), (1, 1), (0b010, 3), (0, 1),
                    (0b010, 3), (1, 1), (1, 1), (1, 1), (0, 1), (0, 1)):
        bw.u(bits, n)
    sps = bytes([0x67]) + bw.rbsp()
    p = Fm.parse_sps_h264(sps)
    assert (p["w"], p["h"], p["profile_idc"]) == (32, 16, 66)


def test_h265_sps_parse_hvcc():
    """hvcC record + hand-assembled H.265 SPS (ITU-T H.265 §7.3.2.2.1):
    Main profile (1), level 93, 320x240 with a conformance window."""
    from raster_functions_spark import formats as Fm
    import struct
    bw = Fm._BitWriter()
    bw.u(0, 4)          # vps id
    bw.u(0, 3)          # max_sub_layers_minus1
    bw.u(1, 1)          # temporal_id_nesting
    # profile_tier_level: space(2)=0 tier(1)=0 profile_idc(5)=1
    bw.u(0, 2); bw.u(0, 1); bw.u(1, 5)
    bw.u(1 << 30, 32)   # compat flags (profile 1 bit)
    bw.u(0, 48)         # source/reserved flags
    bw.u(93, 8)         # general_level_idc
    bw.ue(0)            # sps id
    bw.ue(1)            # chroma 4:2:0
    bw.ue(324)          # pic_width_in_luma_samples
    bw.ue(240)          # pic_height
    bw.u(1, 1)          # conformance window
    bw.ue(0); bw.ue(2); bw.ue(0); bw.ue(0)   # crop right 2*SubWidthC=4
    nal = bytes([0x42, 0x01]) + bw.rbsp()    # SPS nal header (type 33)
    p = Fm.parse_sps_h265(nal)
    assert (p["w"], p["h"], p["profile_idc"], p["level_idc"]) == (320, 240, 1, 93)
    # wrap in an hvcC record
    rec = (bytes([1, 0x01]) + b"\x60\x00\x00\x00" + b"\x00" * 6 + bytes([93])
           + b"\xf0\x00\x00\x00\x00\x00\x00\x00\x00"
           + bytes([1])                          # numOfArrays
           + bytes([0x21]) + struct.pack(">H", 1)
           + struct.pack(">H", len(nal)) + nal)
    q = Fm.parse_hvcc(rec)
    assert (q["w"], q["h"], q["profile_idc"], q["level_idc"]) == (320, 240, 1, 93)


def test_avcc_in_container_enriches_demux():
    """A muxed avc1 container with an avcC exposes SPS dims + profile via
    _demux_tables/peek_mp4; stsd dims stay separate (advisory)."""
    from raster_functions_spark import formats as Fm
    cfg = Fm.encode_avcc(14, 12, 66, 30)
    buf = Fm.encode_mp4_samples([b"\x00" * 40] * 3, "avc1", 16, 16,
                                codec_config=cfg)
    t = Fm._demux_tables(buf)
    assert (t["w"], t["h"]) == (16, 16)                 # stsd (advisory)
    assert (t["codec_w"], t["codec_h"]) == (14, 12)     # SPS (authoritative)
    assert (t["profile_idc"], t["level_idc"]) == (66, 30)
    pk = Fm.peek_mp4(buf)
    assert (pk["codec_w"], pk["codec_h"], pk["profile_idc"]) == (14, 12, 66)
    # tracks without codec config keep None enrichment
    t2 = Fm._demux_tables(Fm.encode_mp4_samples([b"x" * 9] * 2, "jpeg", 8, 8))
    assert t2["profile_idc"] is None and t2["codec_w"] is None


@pytest.mark.parametrize("keep", [4, 12])
def test_truncated_avcc_still_demuxes(spark, keep):
    """A truncated avcC (record header cut at 4 bytes, SPS cut at 12)
    leaves the SPS enrichment empty; the container still demuxes to a
    quarantine row with its stsd dims."""
    from raster_functions_spark import formats as Fm
    record = Fm.encode_avcc(14, 12, 66, 30)[8:]
    buf = Fm.encode_mp4_samples([b"\x00" * 40] * 3, "avc1", 16, 16,
                                codec_config=Fm._box(b"avcC", record[:keep]))
    t = Fm._demux_tables(buf)
    assert (t["w"], t["h"]) == (16, 16)
    assert (t["codec_w"], t["codec_h"]) == (None, None)
    df = spark.createDataFrame(pd.DataFrame({"video_id": ["v0"], "bytes": [buf]}))
    row = multimodal.video_decode_metrics(df).collect()[0]
    assert (row.codec, row.n_frames, row.h, row.w, row.ok) == \
        ("avc1", 3, -1, -1, False)


def test_peek_matches_decode_band_count_palette():
    """Catalog (peek) and decode must agree on band count for palette
    images — color palettes expand to 3, grey palettes collapse to 1."""
    import numpy as np
    from raster_functions_spark import formats as Fm
    rng = np.random.default_rng(5)
    grey = rng.integers(0, 255, (6, 7)).astype(np.uint8)
    for enc, peek in ((Fm.encode_bmp, Fm.peek_image_any),
                      (Fm.encode_png, Fm.peek_image_any)):
        g = enc(grey)
        assert peek(g)["bands"] == Fm.decode_image_any(g).shape[0] == 1
    rgb = rng.integers(0, 255, (3, 6, 7)).astype(np.uint8)
    for enc in (Fm.encode_bmp, Fm.encode_png, Fm.encode_pnm):
        c = enc(rgb)
        assert (Fm.peek_image_any(c)["bands"]
                == Fm.decode_image_any(c).shape[0] == 3)
    # PNM peek is header-only but must still report exact dims
    pk = Fm.peek_image_any(Fm.encode_pnm(rgb))
    assert (pk["h"], pk["w"]) == (6, 7)


def test_jpeg_ff_fill_bytes_are_conformant():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker —
    decode and peek must both accept a padded stream."""
    import numpy as np
    from raster_functions_spark import formats as Fm
    from raster_functions_spark import jpeg as J
    rng = np.random.default_rng(6)
    px = rng.integers(0, 255, (1, 16, 16)).astype(np.uint8)
    buf = J.encode_jpeg(px, quality=90)
    # insert a fill byte before the first marker after SOI
    padded = buf[:2] + b"\xff" + buf[2:]
    assert np.array_equal(J.decode_jpeg(padded), J.decode_jpeg(buf))
    assert Fm.peek_jpeg(padded)["w"] == 16


def test_resize_tiles_upscale_finite(spark):
    """Upscaling must nearest-gather, not divide by zero-width bins (the
    old path encoded inf/NaN into every upscaled tile)."""
    import numpy as np
    import pandas as pd
    from raster_functions_spark import codec, multimodal
    px = np.arange(16, dtype=np.float32).reshape(1, 4, 4)
    df = spark.createDataFrame(pd.DataFrame(
        [{"image_id": "a", "bytes": codec.encode(px, "raw"),
          "w": 4, "h": 4}]))
    out = multimodal.resize_tiles(df, 8, 8, fmt_out="raw").collect()[0]
    got = codec.decode(bytes(out["bytes"]))
    assert got.shape == (1, 8, 8)
    assert np.isfinite(got).all()
    assert got[0, 0, 0] == 0.0 and got[0, 7, 7] == 15.0
    # downscale path unchanged: 4x4 -> 2x2 box means
    out2 = multimodal.resize_tiles(df, 2, 2, fmt_out="raw").collect()[0]
    got2 = codec.decode(bytes(out2["bytes"]))
    assert np.allclose(got2[0], [[2.5, 4.5], [10.5, 12.5]])
