"""From-scratch PNG (formats.py) and baseline JPEG (jpeg.py) codecs.

Round-trips cover every filter/subsampling/restart path; the golden tests
build payloads BY HAND from the public specs (independent of the encoders)
so a matched encode/decode bug cannot cancel out.
"""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from raster_functions_spark import codec, formats, jpeg


def _img(bands, h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (bands, h, w), dtype=np.uint8)


# ---------------------------------------------------------------- PNG ------

@pytest.mark.parametrize("bands", [1, 3, 4])
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters(bands, ftype):
    px = _img(bands, 13, 17, seed=bands * 10 + ftype)
    out = formats.decode_png(formats.encode_png(px, filter_type=ftype))
    assert out.dtype == np.uint8
    assert np.array_equal(out, px)


def test_png_golden_hand_built_sub_filter():
    """Hand-assembled 3×2 greyscale PNG with the Sub filter, filter bytes
    computed by hand from the spec: recon[x] = raw[x] + recon[x-1]."""
    # target image rows: [10, 20, 40], [7, 7, 250]
    # Sub-filtered bytes: [10, 10, 20], [7, 0, 243]
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    raw = bytes([1, 10, 10, 20]) + bytes([1, 7, 0, 243])
    buf = (b"\x89PNG\r\n\x1a\n"
           + formats._png_chunk(b"IHDR", ihdr)
           + formats._png_chunk(b"IDAT", zlib.compress(raw))
           + formats._png_chunk(b"IEND", b""))
    out = formats.decode_png(buf)
    assert np.array_equal(out, np.array([[[10, 20, 40], [7, 7, 250]]], np.uint8))


def test_png_golden_hand_built_paeth():
    """2×2 RGB, second row Paeth-filtered; predictors worked out by hand.
    Row0 (None): pixels (1,2,3),(5,6,7). Row1 target (4,4,4),(9,9,9):
    x<bpp → pred=up → stored = target-up; x≥bpp → a=left,b=up,c=upleft,
    p=a+b-c picks the smallest |p-·|."""
    r0 = [1, 2, 3, 5, 6, 7]
    r1t = [4, 4, 4, 9, 9, 9]
    # first pixel: pred = up = (1,2,3) → stored (3,2,1)
    st1 = [(r1t[i] - r0[i]) % 256 for i in range(3)]
    # second pixel: a=(4,4,4) b=(5,6,7) c=(1,2,3); p = a+b-c = (8,8,8);
    # |p-a|=(4,4,4) |p-b|=(3,2,1) |p-c|=(7,6,5) → pred=b=(5,6,7)
    st2 = [(r1t[3 + i] - r0[3 + i]) % 256 for i in range(3)]
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    raw = bytes([0] + r0) + bytes([4] + st1 + st2)
    buf = (b"\x89PNG\r\n\x1a\n"
           + formats._png_chunk(b"IHDR", ihdr)
           + formats._png_chunk(b"IDAT", zlib.compress(raw))
           + formats._png_chunk(b"IEND", b""))
    out = formats.decode_png(buf)
    want = np.array(r0 + r1t, np.uint8).reshape(2, 2, 3).transpose(2, 0, 1)
    assert np.array_equal(out, want)


def test_png_palette_color_and_grey():
    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    raw = bytes([0, 0, 1])
    # color palette → 3-band expansion
    plte = bytes([255, 0, 0, 0, 0, 255])
    buf = (b"\x89PNG\r\n\x1a\n" + formats._png_chunk(b"IHDR", ihdr)
           + formats._png_chunk(b"PLTE", plte)
           + formats._png_chunk(b"IDAT", zlib.compress(raw))
           + formats._png_chunk(b"IEND", b""))
    out = formats.decode_png(buf)
    assert out.shape == (3, 1, 2)
    assert out[:, 0, 0].tolist() == [255, 0, 0]
    assert out[:, 0, 1].tolist() == [0, 0, 255]
    # grey palette → collapses to 1 band
    plte_g = bytes([9, 9, 9, 200, 200, 200])
    buf_g = (b"\x89PNG\r\n\x1a\n" + formats._png_chunk(b"IHDR", ihdr)
             + formats._png_chunk(b"PLTE", plte_g)
             + formats._png_chunk(b"IDAT", zlib.compress(raw))
             + formats._png_chunk(b"IEND", b""))
    out_g = formats.decode_png(buf_g)
    assert out_g.shape == (1, 1, 2)
    assert out_g[0, 0].tolist() == [9, 200]


def test_png_16bit_grey():
    vals = np.array([[1000, 65535, 0, 256]], np.uint16)
    ihdr = struct.pack(">IIBBBBB", 4, 1, 16, 0, 0, 0, 0)
    raw = bytes([0]) + vals.astype(">u2").tobytes()
    buf = (b"\x89PNG\r\n\x1a\n" + formats._png_chunk(b"IHDR", ihdr)
           + formats._png_chunk(b"IDAT", zlib.compress(raw))
           + formats._png_chunk(b"IEND", b""))
    out = formats.decode_png(buf)
    assert out.dtype == np.uint16
    assert np.array_equal(out, vals[None])


def test_png_rejects_unsupported():
    with pytest.raises(ValueError, match="not a PNG"):
        formats.decode_png(b"\x89PNG\r\n\x1a\x00" + b"x" * 30)
    buf = bytearray(formats.encode_png(_img(1, 4, 4)))
    buf[8 + 8 + 8] = 4                           # IHDR bit depth = 4
    with pytest.raises(ValueError, match="bit depth"):
        formats.decode_png(bytes(buf))


@pytest.mark.parametrize("bands", [1, 3, 4])
@pytest.mark.parametrize("ftype", [0, 1, 4])
def test_png_adam7_roundtrip(bands, ftype):
    """Adam7 interlace: every pass filtered independently, scattered back
    exactly — including edge sizes where some passes are empty."""
    for h, w in [(13, 17), (8, 8), (1, 1), (2, 3), (5, 1)]:
        px = _img(bands, h, w, seed=bands * h * w + ftype)
        buf = formats.encode_png(px, filter_type=ftype, interlace=True)
        assert np.array_equal(formats.decode_png(buf), px), (bands, ftype, h, w)
        # interlaced and sequential files decode to the same pixels
        assert np.array_equal(formats.decode_png(formats.encode_png(px)), px)


def test_png_adam7_hand_built_pass_layout():
    """Spec check independent of the encoder: a 2×2 grey Adam7 image has
    exactly passes 6 (pixel (0,1)→x=1,y=0) and 7 (row y=1) — build the
    IDAT by hand and verify the scatter."""
    # pass 6: 1 row × 1 px = [b'\x00', 20]; pass 7: 1 row × 2 px = [0, 30, 40]
    # pass 1 covers (0,0) at dx=8: 1 row × 1 px = [0, 10]
    raw = bytes([0, 10]) + bytes([0, 20]) + bytes([0, 30, 40])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    buf = (b"\x89PNG\r\n\x1a\n" + formats._png_chunk(b"IHDR", ihdr)
           + formats._png_chunk(b"IDAT", zlib.compress(raw))
           + formats._png_chunk(b"IEND", b""))
    out = formats.decode_png(buf)
    assert np.array_equal(out[0], np.array([[10, 20], [30, 40]], np.uint8))


@settings(max_examples=25, deadline=None)
@given(st.integers(1, 3), st.integers(1, 24), st.integers(1, 24),
       st.integers(0, 4), st.integers(0, 2 ** 31 - 1))
def test_png_roundtrip_fuzz(bands_i, h, w, ftype, seed):
    bands = [1, 3, 4][bands_i - 1]
    px = _img(bands, h, w, seed=seed)
    assert np.array_equal(formats.decode_png(formats.encode_png(px, filter_type=ftype)), px)


# --------------------------------------------------------------- JPEG ------

@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("quality", [75, 90, 95])
def test_jpeg_roundtrip_smooth_psnr(sub, quality):
    yy, xx = np.mgrid[0:40, 0:56]
    px = np.stack([(xx * 2 + yy).astype(np.uint8),
                   (xx + yy * 2).astype(np.uint8),
                   (xx // 2 + 100).astype(np.uint8)])
    rec = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=quality, subsampling=sub))
    assert rec.shape == px.shape
    p = codec.psnr(px, rec)
    assert p >= (40 if sub == "444" else 38), p


def test_jpeg_grayscale_and_odd_sizes():
    yy, xx = np.mgrid[0:9, 0:11]
    g = (xx * 3 + yy * 5).astype(np.uint8)
    rec = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=95))
    assert rec.shape == (1, 9, 11)
    assert codec.psnr(g[None], rec) >= 40
    for sub in ("444", "420"):
        px = _img(3, 17, 23, seed=7)
        rec = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=95, subsampling=sub))
        assert rec.shape == px.shape


@pytest.mark.parametrize("ri", [1, 2, 5])
def test_jpeg_restart_intervals(ri):
    px = _img(3, 24, 40, seed=ri)
    buf = jpeg.encode_jpeg(px, quality=95, subsampling="420", restart_interval=ri)
    assert b"\xff\xdd" in buf                    # DRI marker present
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=95, subsampling="420"))
    rec = jpeg.decode_jpeg(buf)
    # restart markers change framing, not content
    assert np.array_equal(rec, base)


@pytest.mark.parametrize("ri", [0, 2])
def test_jpeg_one_component_scan_walks_its_own_block_grid(ri):
    """T.81 A.2: a one-component scan codes one block per MCU in the
    component's own grid, whatever its sampling factors. A grayscale frame
    relabelled H=V=2 carries the same entropy data as H=V=1 and decodes to
    the same pixels."""
    px = _img(1, 17, 23, seed=3)
    buf = jpeg.encode_jpeg(px, quality=90, restart_interval=ri)
    sof = buf.index(b"\xff\xc0")
    assert buf[sof + 11] == 0x11                 # component 1: H=V=1
    relabelled = buf[:sof + 11] + b"\x22" + buf[sof + 12:]
    assert np.array_equal(jpeg.decode_jpeg(relabelled), jpeg.decode_jpeg(buf))


def test_jpeg_golden_hand_built_single_block():
    """A 8×8 grayscale JPEG assembled by hand: flat DC-only block, the
    Huffman code derived with an INLINE canonical-code builder straight
    from Annex C (independent of jpeg.py's internals). Quant table all
    ones, DC diff = 80 → every sample = round(80/8) + 128 = 138."""
    def canonical(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (code, ln)
                k += 1
                code += 1
            code <<= 1
        return out

    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    ac_bits = [0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_vals = [0x00]                              # only EOB
    dc = canonical(dc_bits, dc_vals)
    ac = canonical(ac_bits, ac_vals)
    # entropy: DC category 7 code, then 80 in 7 bits, then EOB
    bitstr = ""
    c, ln = dc[7]
    bitstr += format(c, f"0{ln}b") + format(80, "07b")
    c, ln = ac[0x00]
    bitstr += format(c, f"0{ln}b")
    bitstr += "1" * ((-len(bitstr)) % 8)
    entropy = bytes(int(bitstr[i:i + 8], 2) for i in range(0, len(bitstr), 8))
    entropy = entropy.replace(b"\xff", b"\xff\x00")

    def chunk(marker, body):
        return marker + struct.pack(">H", len(body) + 2) + body

    buf = (b"\xff\xd8"
           + chunk(b"\xff\xdb", b"\x00" + bytes([1] * 64))
           + chunk(b"\xff\xc0", struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
           + chunk(b"\xff\xc4", b"\x00" + bytes(dc_bits) + bytes(dc_vals))
           + chunk(b"\xff\xc4", b"\x10" + bytes(ac_bits) + bytes(ac_vals))
           + chunk(b"\xff\xda", b"\x01" + bytes([1, 0x00]) + b"\x00\x3f\x00")
           + entropy + b"\xff\xd9")
    out = jpeg.decode_jpeg(buf)
    assert out.shape == (1, 8, 8)
    assert np.array_equal(out, np.full((1, 8, 8), 138, np.uint8))


def test_jpeg_rejects_progressive_and_garbage():
    px = _img(1, 8, 8)
    buf = bytearray(jpeg.encode_jpeg(px))
    i = bytes(buf).find(b"\xff\xc0")
    buf[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        jpeg.decode_jpeg(bytes(buf))
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"not a jpeg at all")
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(b"\xff\xd8\xff\xe0" + b"\x00\x10" + b"\x00" * 14)


@settings(max_examples=15, deadline=None)
@given(st.integers(1, 2), st.integers(8, 40), st.integers(8, 40),
       st.integers(0, 2 ** 31 - 1))
def test_jpeg_roundtrip_fuzz_shapes(bands_i, h, w, seed):
    """Any shape decodes back to the exact input shape with sane values;
    worst-case (noise) PSNR at q95 stays above the lossy floor."""
    bands = 1 if bands_i == 1 else 3
    px = _img(bands, h, w, seed=seed)
    rec = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=95))
    assert rec.shape == px.shape
    assert codec.psnr(px, rec) > 25


# -------------------------------------------------------- progressive ------

@pytest.mark.parametrize("sub", ["444", "420"])
@pytest.mark.parametrize("quality", [75, 95])
def test_progressive_decode_equals_baseline_exactly(sub, quality):
    """The cross-codec invariant that catches matched encode/decode bugs:
    progressive and baseline code the IDENTICAL quantized coefficients, so
    their decodes must be pixel-identical — across gray/color, both
    subsamplings, odd sizes (MCU padding) and qualities."""
    rng = np.random.default_rng(quality)
    shapes = [(3, 24, 32), (3, 17, 23), (3, 8, 8)]
    if sub == "444":
        shapes += [(1, 15, 9)]
    for bands, h, w in shapes:
        px = rng.integers(0, 256, (bands, h, w), dtype=np.uint8)
        base = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=quality,
                                                 subsampling=sub))
        buf = jpeg.encode_jpeg_progressive(px, quality=quality, subsampling=sub)
        assert b"\xff\xc2" in buf                  # really SOF2
        prog = jpeg.decode_jpeg(buf)
        assert np.array_equal(base, prog), (bands, h, w)


def test_progressive_smooth_psnr():
    yy, xx = np.mgrid[0:40, 0:56]
    px = np.stack([(xx * 2 + yy).astype(np.uint8),
                   (xx + yy * 2).astype(np.uint8),
                   (xx // 2 + 100).astype(np.uint8)])
    rec = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(px, quality=90))
    assert codec.psnr(px, rec) >= 40


def test_progressive_hand_built_eobn_run():
    """EOB runs longer than one block (EOBn, n>1) need custom Huffman
    tables, so the encoder never emits them — build one by hand (Annex G
    layout, inline canonical builder) and check the decoder honors the
    run: a 16×8 gray image, DC scan then an AC scan that is a single EOB2
    covering both blocks."""
    def canonical(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (code, ln)
                k += 1
                code += 1
            code <<= 1
        return out

    dc_bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    dc_vals = list(range(12))
    ac_bits = [0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_vals = [0x00, 0x10]                        # EOB1 and EOB2 symbols
    dc = canonical(dc_bits, dc_vals)
    ac = canonical(ac_bits, ac_vals)
    # DC scan (Ss=Se=0, Ah=Al=0): block1 diff=+40, block2 diff=-40 → DCs 40, 0
    bits = ""
    c, ln = dc[6]
    bits += format(c, f"0{ln}b") + format(40, "06b")
    c, ln = dc[6]
    bits += format(c, f"0{ln}b") + format((-40) + 63, "06b")
    bits += "1" * ((-len(bits)) % 8)
    dc_scan = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    # AC scan 1-63: EOB2 (r=1) + 1 extension bit 0 → run = 2 blocks, all zero
    c, ln = ac[0x10]
    bits = format(c, f"0{ln}b") + "0"
    bits += "1" * ((-len(bits)) % 8)
    ac_scan = bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))

    def chunk(marker, body):
        return marker + struct.pack(">H", len(body) + 2) + body

    buf = (b"\xff\xd8"
           + chunk(b"\xff\xdb", b"\x00" + bytes([1] * 64))
           + chunk(b"\xff\xc2", struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
           + chunk(b"\xff\xc4", b"\x00" + bytes(dc_bits) + bytes(dc_vals))
           + chunk(b"\xff\xc4", b"\x10" + bytes(ac_bits) + bytes(ac_vals))
           + chunk(b"\xff\xda", b"\x01" + bytes([1, 0x00]) + b"\x00\x00\x00")
           + dc_scan
           + chunk(b"\xff\xda", b"\x01" + bytes([1, 0x00]) + b"\x01\x3f\x00")
           + ac_scan + b"\xff\xd9")
    out = jpeg.decode_jpeg(buf)
    assert out.shape == (1, 8, 16)
    # DC-only blocks: 40/8 + 128 = 133 and 0/8 + 128 = 128
    assert np.array_equal(out[0, :, :8], np.full((8, 8), 133, np.uint8))
    assert np.array_equal(out[0, :, 8:], np.full((8, 8), 128, np.uint8))


@settings(max_examples=12, deadline=None)
@given(st.integers(1, 2), st.integers(1, 48), st.integers(1, 48),
       st.sampled_from([70, 85, 95]), st.sampled_from(["444", "420"]),
       st.integers(0, 2 ** 31 - 1))
def test_progressive_equals_baseline_fuzz(bands_i, h, w, q, sub, seed):
    bands = 1 if bands_i == 1 else 3
    if bands == 1:
        sub = "444"
    px = _img(bands, h, w, seed=seed)
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=q, subsampling=sub))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(px, quality=q,
                                                         subsampling=sub))
    assert np.array_equal(base, prog)


def test_jpeg_truncated_raises_not_hangs():
    px = _img(3, 16, 16, seed=1)
    buf = jpeg.encode_jpeg(px, quality=90)
    # cut inside the entropy stream: decode must terminate (the MCU loop is
    # bounded) — either a clean ValueError or a decoded array is acceptable,
    # an infinite loop/crash is not
    try:
        out = jpeg.decode_jpeg(buf[:len(buf) - 20])
        assert out.shape == (3, 16, 16)
    except ValueError:
        pass


# --------------------------------------------------------------- peek ------

def test_peek_matches_decode_for_every_format():
    """Header-only peek reports exactly what a full decode produces —
    for PNG/JPEG/BMP/engine payloads — without touching pixel data."""
    from raster_functions_spark import codec, jpeg
    px3 = _img(3, 13, 21, seed=5)
    px1 = _img(1, 9, 7, seed=6)
    payloads = [
        formats.encode_png(px3, filter_type=2),
        formats.encode_png(px1),
        jpeg.encode_jpeg(px3, quality=85, subsampling="420", restart_interval=2),
        jpeg.encode_jpeg(px1[0], quality=85),
        formats.encode_bmp(px3),
        codec.encode(px3, "zlib"),
    ]
    for buf in payloads:
        m = formats.peek_image_any(buf)
        full = formats.decode_image_any(buf)
        assert (m["bands"], m["h"], m["w"]) == full.shape, m
        assert m["nbytes"] == len(buf)


def test_peek_png_never_inflates():
    """Corrupt the IDAT body (valid CRC field untouched is irrelevant —
    peek must not read it): metadata still parses, decode fails."""
    buf = bytearray(formats.encode_png(_img(3, 16, 16, seed=8)))
    idat = bytes(buf).find(b"IDAT")
    buf[idat + 8:idat + 16] = b"\x00" * 8          # trash the zlib stream
    m = formats.peek_image_any(bytes(buf))
    assert (m["bands"], m["h"], m["w"]) == (3, 16, 16)
    with pytest.raises(Exception):
        formats.decode_png(bytes(buf))


def test_peek_rejects_garbage():
    with pytest.raises(ValueError):
        formats.peek_image_any(b"\x00\x01garbage")
    with pytest.raises(ValueError, match="no SOF"):
        formats.peek_jpeg(b"\xff\xd8\xff\xd9")


# ------------------------------------------------------------- wiring ------

def test_sniff_and_dispatch_png_jpeg():
    png = formats.encode_png(_img(3, 4, 4))
    jpg = jpeg.encode_jpeg(_img(3, 8, 8))
    assert formats.sniff(png) == "png"
    assert formats.sniff(jpg) == "jpeg"
    assert formats.decode_image_any(png).shape == (3, 4, 4)
    assert formats.decode_image_any(jpg).shape == (3, 8, 8)
    with pytest.raises(ValueError, match="unrecognized"):
        formats.decode_image_any(b"\x00\x01\x02\x03")
