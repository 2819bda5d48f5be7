"""Baseline JPEG codec (ITU-T T.81 / ISO 10918-1), from scratch.

No codec library exists in this container and the engine must not depend
on one — this implements the baseline sequential DCT process directly
against the public specification:

- markers: SOI, APPn (skipped), COM (skipped), DQT, SOF0/SOF1, DHT, DRI,
  SOS, RSTn, EOI
- entropy coding: canonical Huffman per Annex C, byte stuffing (FF 00),
  restart-interval resync
- 8×8 FDCT/IDCT: the orthonormal DCT-II basis shared with the engine
  container codec (codec._DCT8) — identical to the T.81 definition
- color: JFIF YCbCr ↔ RGB, chroma subsampling 4:4:4 and 4:2:0 on encode,
  arbitrary sampling factors H,V ∈ {1,2,4} on decode (nearest upsample)
- default tables: the Annex K quantization + Huffman tables, scaled by
  the common libjpeg quality formula

Decode covers baseline sequential (SOF0/SOF1, 8-bit Huffman) AND
progressive (SOF2: spectral selection + successive approximation, any
EOBn run length); arithmetic-coded, hierarchical and lossless processes
are detected and raise a clear ValueError (quarantine path). Both
processes decode through one scan decoder (_decode_scan) into per-component
coefficient stores; the entropy loop is per-block Python (inherently
sequential), and dequantization, IDCT and color transforms run once, batched
NumPy over all blocks of the frame, at EOI. This is the *interchange*
ingest path for crawl data — the engine container (codec.py) remains the
hot on-cluster representation.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import _DCT8

# --------------------------------------------------------------- tables ----

# zigzag: _ZZ[i] = raster index of the i-th coefficient in zigzag order
_zz = []
for _s in range(15):
    _rs = list(range(max(0, _s - 7), min(8, _s + 1)))
    if _s % 2 == 0:
        _rs = _rs[::-1]
    _zz += [r * 8 + (_s - r) for r in _rs]
_ZZ = np.array(_zz, dtype=np.int64)
del _zz, _rs, _s

# Annex K quantization tables (natural/raster order)
_STD_LUM_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
_STD_CHR_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# Annex K Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHR_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHR_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]
_AC_CHR_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHR_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C code assignment: symbol → (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> list:
    """16-bit-prefix lookup table: lut[next16bits] = (symbol, code length).
    One list index + one consume per symbol instead of bit-serial walking.
    Cached per (bits, vals) — the Annex K tables repeat across files."""
    return _decode_table_cached(tuple(bits), tuple(vals))


from functools import lru_cache  # noqa: E402  (local helper)


@lru_cache(maxsize=64)
def _decode_table_cached(bits: tuple, vals: tuple) -> list:
    lut: list = [None] * 65536
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            lo = code << (16 - ln)
            hi = (code + 1) << (16 - ln)
            lut[lo:hi] = [(vals[k], ln)] * (hi - lo)
            k += 1
            code += 1
        code <<= 1
    return lut


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the common libjpeg quality mapping."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    lum = np.clip((_STD_LUM_Q * scale + 50) // 100, 1, 255)
    chrm = np.clip((_STD_CHR_Q * scale + 50) // 100, 1, 255)
    return lum, chrm


# ---------------------------------------------------------------- encode ---

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.out.append(b)
            if b == 0xFF:            # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _fdct_quant(tiles: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(n, 8, 8) level-shifted samples → (n, 64) quantized zigzag coefs."""
    coef = _DCT8 @ tiles @ _DCT8.T
    q = np.round(coef / qtab.reshape(8, 8)).astype(np.int32)
    return q.reshape(-1, 64)[:, _ZZ]


def _blocks_of(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H,W multiples of 8 → (H//8 * W//8, 8, 8), raster order."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _pad_edge(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, (-h) % mult), (0, (-w) % mult)), mode="edge")


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    dc = int(zz[0])
    diff = dc - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = nz[-1] + 1 if nz.size else 0
    for i in range(1, last + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, l = ac_codes[0xF0]    # ZRL
            bw.write(c, l)
            run -= 16
        s = _category(v)
        c, l = ac_codes[(run << 4) | s]
        bw.write(c, l)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        c, l = ac_codes[0x00]        # EOB
        bw.write(c, l)
    return dc


def _prepare_components(px: np.ndarray, quality: int, subsampling: str):
    """Shared encoder front end: color transform, subsampling, FDCT,
    quantization. Returns (comps, qtabs, comp_zz, comp_bw, gray) where
    comp_zz[ci] is the (n_blocks, 64) zigzag coefficient table in raster
    block order over the component's 8-aligned grid and comp_bw[ci] the
    blocks-across count of that grid."""
    bands, h, w = px.shape
    if bands not in (1, 3):
        raise ValueError("JPEG supports 1 or 3 bands")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    lum_q, chr_q = quality_tables(quality)
    gray = bands == 1
    sub = subsampling == "420" and not gray

    if gray:
        planes = [px[0].astype(np.float64)]
    else:
        r, g, b = (px[i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if sub:
            yp = _pad_edge(y, 16)
            # box-mean 2×2 chroma downsample on the padded grid
            cbp = _pad_edge(cb, 16)
            crp = _pad_edge(cr, 16)
            cbs = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
            crs = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
            planes = [yp, cbs, crs]
        else:
            planes = [y, cb, cr]

    # per component: (id, H, V, qtab index)
    if gray:
        comps = [(1, 1, 1, 0)]
    elif sub:
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    else:
        comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    qtabs = [lum_q] + ([] if gray else [chr_q])

    comp_zz = []
    comp_bw = []                     # blocks across, for MCU indexing
    for ci, (cid, ch_, cv_, tq) in enumerate(comps):
        plane = _pad_edge(planes[ci], 8)
        tiles = _blocks_of(plane) - 128.0
        comp_zz.append(_fdct_quant(tiles, qtabs[tq]))
        comp_bw.append(plane.shape[1] // 8)
    return comps, qtabs, comp_zz, comp_bw, gray


def _marker_preamble(h: int, w: int, comps, qtabs, gray: bool,
                     sof_marker: bytes, restart_interval: int) -> bytearray:
    """SOI + APP0 + DQT + SOF + DHT (+DRI) — shared by baseline/progressive."""
    out = bytearray(b"\xff\xd8")                         # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" \
        + struct.pack(">HH", 1, 1) + b"\x00\x00"         # APP0
    for tq, tab in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) \
            + bytes(int(x) for x in tab[_ZZ])            # DQT (zigzag order)
    out += sof_marker + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                    len(comps))          # SOF
    for cid, chf, cvf, tq in comps:
        out += struct.pack("BBB", cid, (chf << 4) | cvf, tq)
    tables = [(0x00, _DC_LUM_BITS, _DC_LUM_VALS), (0x10, _AC_LUM_BITS, _AC_LUM_VALS)]
    if not gray:
        tables += [(0x01, _DC_CHR_BITS, _DC_CHR_VALS),
                   (0x11, _AC_CHR_BITS, _AC_CHR_VALS)]
    for tc, bits, vals in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc) \
            + bytes(bits) + bytes(vals)                  # DHT
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)  # DRI
    return out


def encode_jpeg(pixels: np.ndarray, quality: int = 90,
                subsampling: str = "444", restart_interval: int = 0) -> bytes:
    """(h,w) / (1,h,w) uint8 → grayscale JPEG; (3,h,w) RGB uint8 → YCbCr
    JPEG. ``subsampling``: '444' (no chroma subsampling) or '420'.
    ``restart_interval``: emit DRI + RSTn markers every N MCUs (0 = none),
    resetting DC prediction per segment as real encoders do."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[None]
    if px.dtype != np.uint8:
        raise ValueError("JPEG encoder takes uint8 pixels")
    bands, h, w = px.shape
    comps, qtabs, comp_zz, comp_bw, gray = _prepare_components(
        px, quality, subsampling)

    dc_l = _canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_l = _canonical_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    dc_c = _canonical_codes(_DC_CHR_BITS, _DC_CHR_VALS)
    ac_c = _canonical_codes(_AC_CHR_BITS, _AC_CHR_VALS)
    huff = [(dc_l, ac_l)] + [(dc_c, ac_c)] * (len(comps) - 1)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    bw_ = _BitWriter()
    segments = []
    preds = [0] * len(comps)
    mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                segments.append(bw_.flush())     # byte-align, reset state
                bw_ = _BitWriter()
                preds = [0] * len(comps)
            for ci, (cid, chf, cvf, tq) in enumerate(comps):
                for v in range(cvf):
                    for u in range(chf):
                        bi = (my * cvf + v) * comp_bw[ci] + (mx * chf + u)
                        preds[ci] = _encode_block(
                            bw_, comp_zz[ci][bi], preds[ci], *huff[ci])
            mcu += 1
    segments.append(bw_.flush())
    entropy = bytearray(segments[0])
    for i, seg in enumerate(segments[1:]):
        entropy += bytes([0xFF, 0xD0 + (i % 8)]) + seg

    # ---- marker stream
    out = _marker_preamble(h, w, comps, qtabs, gray, b"\xff\xc0",
                           restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
    for ci, (cid, *_rest) in enumerate(comps):
        out += struct.pack("BB", cid, 0x00 if ci == 0 else 0x11)
    out += b"\x00\x3f\x00"                               # Ss=0 Se=63 AhAl=0
    out += entropy
    out += b"\xff\xd9"                                   # EOI
    return bytes(out)


def _sos_header(scan_comps, ss: int, se: int, ah: int, al: int) -> bytes:
    out = b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(scan_comps),
                                    len(scan_comps))
    for cid, tda in scan_comps:
        out += struct.pack("BB", cid, tda)
    return out + struct.pack("BBB", ss, se, (ah << 4) | al)


def _tz_shift(v: np.ndarray, al: int) -> np.ndarray:
    """AC point transform: divide by 2^Al truncating TOWARD ZERO (G.1.2.2;
    DC uses plain arithmetic shift instead)."""
    return np.sign(v) * (np.abs(v) >> al)


def _udims(w: int, h: int, chf: int, cvf: int, hmax: int, vmax: int):
    """Unpadded per-component block-grid dims — ONE definition shared by
    the progressive encoder and the decoder (_comp_block_dims): the two
    sides must agree bit-for-bit on scan block order."""
    cw = (w * chf + hmax - 1) // hmax
    ch = (h * cvf + vmax - 1) // vmax
    return (ch + 7) // 8, (cw + 7) // 8


def encode_jpeg_progressive(pixels: np.ndarray, quality: int = 90,
                            subsampling: str = "444") -> bytes:
    """Progressive JPEG (SOF2) with spectral selection AND successive
    approximation — the script real encoders emit: shifted DC scan + DC
    refinement, then per component first AC scans (bands 1-5 / 6-63 at
    Al=2) and two refinement passes down to full precision. EOB runs are
    emitted per block (EOB0) because the Annex K baseline Huffman tables
    carry no EOBn symbols — longer runs decode fine, they just are not
    produced. Pixel-exact contract: decode(progressive) ==
    decode(baseline) for the same quality/subsampling, because both code
    the identical quantized coefficients."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[None]
    if px.dtype != np.uint8:
        raise ValueError("JPEG encoder takes uint8 pixels")
    bands, h, w = px.shape
    comps, qtabs, comp_zz, comp_bw, gray = _prepare_components(
        px, quality, subsampling)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    dc_codes = [_canonical_codes(_DC_LUM_BITS, _DC_LUM_VALS)] + \
        [_canonical_codes(_DC_CHR_BITS, _DC_CHR_VALS)] * (len(comps) - 1)
    ac_codes = [_canonical_codes(_AC_LUM_BITS, _AC_LUM_VALS)] + \
        [_canonical_codes(_AC_CHR_BITS, _AC_CHR_VALS)] * (len(comps) - 1)

    def comp_udims(ci):
        cid, chf, cvf, _tq = comps[ci]
        return _udims(w, h, chf, cvf, hmax, vmax)

    out = _marker_preamble(h, w, comps, qtabs, gray, b"\xff\xc2", 0)

    # ---- scan 1: DC, all components interleaved, Al=1
    # ---- scan 2: DC refinement to Al=0
    for ah, al in ((0, 1), (1, 0)):
        bw_ = _BitWriter()
        preds = [0] * len(comps)
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (cid, chf, cvf, _tq) in enumerate(comps):
                    for v in range(cvf):
                        for u in range(chf):
                            bi = (my * cvf + v) * comp_bw[ci] + (mx * chf + u)
                            dc = int(comp_zz[ci][bi, 0])
                            if ah == 0:
                                t = dc >> al      # DC: arithmetic shift
                                diff = t - preds[ci]
                                preds[ci] = t
                                s = _category(diff)
                                c, ln = dc_codes[ci][s]
                                bw_.write(c, ln)
                                if s:
                                    bw_.write(diff if diff >= 0
                                              else diff + (1 << s) - 1, s)
                            else:
                                bw_.write((dc >> al) & 1, 1)
        out += _sos_header([(comps[ci][0], 0x00 if ci == 0 else 0x11)
                            for ci in range(len(comps))], 0, 0, ah, al)
        out += bw_.flush()

    # ---- AC scans per component: first scans at Al=2, then two refinements
    for ci in range(len(comps)):
        bh_u, bw_u = comp_udims(ci)
        ac = ac_codes[ci]
        ta = 0x00 if ci == 0 else 0x11

        def blocks():
            for by in range(bh_u):
                for bx in range(bw_u):
                    yield comp_zz[ci][by * comp_bw[ci] + bx]

        for ss, se, ah, al in ((1, 5, 0, 2), (6, 63, 0, 2),
                               (1, 63, 2, 1), (1, 63, 1, 0)):
            bw_ = _BitWriter()
            if ah == 0:
                for zz in blocks():
                    bandv = _tz_shift(zz[ss:se + 1].astype(np.int64), al)
                    nz = np.nonzero(bandv)[0]
                    if nz.size == 0:
                        c, ln = ac[0x00]          # EOB0 (run of one block)
                        bw_.write(c, ln)
                        continue
                    run = 0
                    for j in range(int(nz[-1]) + 1):
                        v = int(bandv[j])
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            c, ln = ac[0xF0]
                            bw_.write(c, ln)
                            run -= 16
                        s = _category(v)
                        c, ln = ac[(run << 4) | s]
                        bw_.write(c, ln)
                        bw_.write(v if v >= 0 else v + (1 << s) - 1, s)
                        run = 0
                    if int(nz[-1]) < se - ss:
                        c, ln = ac[0x00]
                        bw_.write(c, ln)
            else:
                for zz in blocks():
                    band = zz[ss:se + 1].astype(np.int64)
                    mag = np.abs(band)
                    hist = (mag >> ah) != 0       # nonzero before this scan
                    now1 = ((mag >> al) != 0) & ~hist   # newly significant
                    corrbit = (mag >> al) & 1
                    if not now1.any():
                        c, ln = ac[0x00]          # EOB0 + this block's
                        bw_.write(c, ln)          # correction bits
                        for j in np.nonzero(hist)[0]:
                            bw_.write(int(corrbit[j]), 1)
                        continue
                    kend = int(np.nonzero(now1)[0][-1])
                    run = 0
                    carry: list[int] = []
                    for j in range(kend + 1):
                        if hist[j]:
                            carry.append(int(corrbit[j]))
                            continue
                        if not now1[j]:
                            run += 1
                            if run == 16:         # ZRL covers these 16 zeros
                                c, ln = ac[0xF0]
                                bw_.write(c, ln)
                                for b in carry:
                                    bw_.write(b, 1)
                                carry = []
                                run = 0
                            continue
                        c, ln = ac[(run << 4) | 1]
                        bw_.write(c, ln)
                        bw_.write(1 if band[j] > 0 else 0, 1)
                        for b in carry:
                            bw_.write(b, 1)
                        carry = []
                        run = 0
                    if kend < se - ss or carry:
                        c, ln = ac[0x00]          # trailing EOB0
                        bw_.write(c, ln)
                        for b in carry:
                            bw_.write(b, 1)
                        for j in range(kend + 1, se - ss + 1):
                            if hist[j]:
                                bw_.write(int(corrbit[j]), 1)
            out += _sos_header([(comps[ci][0], ta)], ss, se, ah, al)
            out += bw_.flush()

    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------- decode ---

class _BitReader:
    """Buffered MSB-first reader over an unstuffed entropy segment. Reads
    past the segment end see 1-padding (what compliant encoders write);
    the bounded MCU loop guarantees no unbounded overrun."""

    __slots__ = ("d", "pos", "acc", "n")

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self, k: int) -> None:
        d, pos, n = self.d, self.pos, len(self.d)
        acc, nb = self.acc, self.n
        while nb < k:
            acc = (acc << 8) | (d[pos] if pos < n else 0xFF)
            pos += 1
            nb += 8
        self.pos, self.acc, self.n = pos, acc, nb

    def bits(self, k: int) -> int:
        if self.n < k:
            self._fill(k)
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def peek16(self) -> int:
        if self.n < 16:
            self._fill(16)
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def consume(self, k: int) -> None:
        self.n -= k
        self.acc &= (1 << self.n) - 1


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _huff_decode(br: _BitReader, lut: list) -> int:
    hit = lut[br.peek16()]
    if hit is None:
        raise ValueError("invalid JPEG Huffman code")
    br.consume(hit[1])
    return hit[0]


def decode_jpeg(buf: bytes) -> np.ndarray:
    """JPEG bytes → (bands, h, w) uint8 (1 band grayscale or 3-band RGB).
    Supports Huffman baseline (SOF0/SOF1) AND progressive (SOF2: spectral
    selection + successive approximation, DC/AC refinement scans, EOB
    runs), sampling factors up to 4, restart intervals. Arithmetic coding
    and the hierarchical/lossless processes raise.

    Both processes share one path: every scan fills the frame's
    coefficient stores through :func:`_decode_scan` (a sequential scan is
    the band (0, 63, 0, 0)), and one batched :func:`_idct_assemble` turns
    the stores into pixels at EOI. A sequential frame must code all its
    components in one interleaved scan."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    restart = 0
    stores = None                                 # per frame component
    pos = 2
    n = len(buf)
    while pos + 4 <= n:
        if buf[pos] != 0xFF:
            raise ValueError(f"JPEG marker expected at {pos}")
        # T.81 B.1.1.2: any number of 0xFF FILL bytes may precede a marker
        while pos + 1 < n and buf[pos + 1] == 0xFF:
            pos += 1
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:                        # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue                              # standalone
        (seglen,) = struct.unpack_from(">H", buf, pos)
        body = buf[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:                        # DQT
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 0xF
                bp += 1
                if pq:
                    vals = np.frombuffer(body, ">u2", 64, bp).astype(np.int64)
                    bp += 128
                else:
                    vals = np.frombuffer(body, np.uint8, 64, bp).astype(np.int64)
                    bp += 64
                nat = np.zeros(64, np.int64)
                nat[_ZZ] = vals                   # stored zigzag → natural
                qtabs[tq] = nat
        elif marker == 0xC4:                      # DHT
            bp = 0
            while bp < len(body):
                tc, th = body[bp] >> 4, body[bp] & 0xF
                bits = list(body[bp + 1:bp + 17])
                nv = sum(bits)
                vals = list(body[bp + 17:bp + 17 + nv])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _decode_table(bits, vals)
                bp += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):        # SOF0/1 baseline, SOF2 prog
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = struct.unpack_from("BBB", body, 6 + 3 * ci)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG process (SOF{marker & 0xF})")
        elif marker == 0xDD:                      # DRI
            (restart,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:                      # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            scan = []
            for ci in range(ns):
                cs, tda = body[1 + 2 * ci], body[2 + 2 * ci]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tda >> 4, tda & 0xF))
            segs, pos = _entropy_segments(buf, pos)
            if frame["progressive"]:
                ss, se, ahl = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
                band = (ss, se, ahl >> 4, ahl & 0xF)
            elif ns != len(frame["comps"]):
                raise ValueError(
                    "non-interleaved multi-scan baseline JPEG not supported")
            else:
                band = (0, 63, 0, 0)
            if stores is None:
                stores = _init_stores(frame)
            _decode_scan(frame, scan, band, segs, dc_tabs, ac_tabs, restart,
                         stores)
        # APPn/COM and anything else: skipped
    if stores is None:
        raise ValueError("JPEG has no SOS scan")
    entries = [(c, stores[i]) for i, c in enumerate(frame["comps"])]
    return _idct_assemble(frame, entries, qtabs)


def _entropy_segments(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """Unstuffed entropy-coded segments, split at RST markers; returns the
    segments plus the position of the terminating marker."""
    segs = []
    cur = bytearray()
    n = len(buf)
    while pos < n:
        b = buf[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        m = buf[pos + 1] if pos + 1 < n else 0xD9
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif m == 0xFF:                           # FF fill byte (B.1.1.2)
            pos += 1
        elif 0xD0 <= m <= 0xD7:                   # RSTn: segment boundary
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:                                     # real marker: end of scan
            break
    segs.append(bytes(cur))
    return segs, pos


def _idct_assemble(frame, entries, qtabs) -> np.ndarray:
    """Batched dequantize + IDCT + upsample + color transform over the
    final coefficient stores."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    planes = []
    for comp, st in entries:
        qt = qtabs.get(comp["tq"])
        if qt is None:
            raise ValueError("JPEG frame references missing quant table")
        bd, ba, _ = st.shape
        zz = st.reshape(-1, 64).astype(np.float64)
        nat = np.zeros_like(zz)
        nat[:, _ZZ] = zz
        coef = (nat * qt).reshape(-1, 8, 8)
        rec = _DCT8.T @ coef @ _DCT8 + 128.0
        plane = (rec.reshape(bd, ba, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(bd * 8, ba * 8))
        plane = np.repeat(np.repeat(plane, vmax // comp["v"], axis=0),
                          hmax // comp["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        out = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return out[None]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b])
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ----------------------------------------------------------------- scans ---
# One scan decoder for both processes. Sequential (T.81 Annex F): one scan
# codes every coefficient of every component. Progressive (Annex G):
# spectral selection (each scan codes one zigzag band of one component, or
# the DC band of all) + successive approximation (coefficient bits arrive
# MSB-first across scans; refinement scans append one bit).

def _frame_geometry(frame):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    if hmax not in (1, 2, 4) or vmax not in (1, 2, 4):
        raise ValueError("unsupported JPEG sampling factors")
    for c in frame["comps"]:
        # EVERY component's factor must be a power-of-two divisor of the
        # max (the np.repeat upsample is integer-ratio): e.g. H=3 under
        # hmax=4 would silently misalign chroma or die on an opaque
        # shape error instead of this clear quarantine-able message
        if (c["h"] not in (1, 2, 4) or c["v"] not in (1, 2, 4)
                or hmax % c["h"] or vmax % c["v"]):
            raise ValueError(
                f"unsupported JPEG sampling factors "
                f"{c['h']}x{c['v']} (max {hmax}x{vmax})")
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    return hmax, vmax, mcux, mcuy


def _comp_block_dims(frame, comp):
    """Unpadded per-component block grid (non-interleaved scans iterate
    THIS, not the MCU-padded storage grid)."""
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    return _udims(frame["w"], frame["h"], comp["h"], comp["v"], hmax, vmax)


def _init_stores(frame):
    hmax, vmax, mcux, mcuy = _frame_geometry(frame)
    return [np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int32)
            for c in frame["comps"]]


class _SegmentCursor:
    """Restart-interval segment switching: one entropy-coded segment per
    restart interval of MCUs."""

    def __init__(self, segs, restart):
        self.segs = segs
        self.restart = restart
        self.i = 0
        self.br = _BitReader(segs[0])
        self.unit = 0

    def step(self):
        """Advance one MCU; returns True when a restart boundary was
        crossed (callers reset DC predictions / EOB runs)."""
        crossed = (self.restart and self.unit
                   and self.unit % self.restart == 0)
        if crossed:
            self.i += 1
            if self.i >= len(self.segs):
                raise ValueError("JPEG truncated at restart interval")
            self.br = _BitReader(self.segs[self.i])
        self.unit += 1
        return crossed


def _ac_first(br, zz, ss, se, al, act, eobrun, runs):
    """First AC pass over zigzag band ss..se of one block; returns the EOB
    run left for the blocks after it. ``runs`` is False in sequential
    scans, where every SSSS = 0 symbol but ZRL ends the block and carries
    no run bits (T.81 F.2.2.2)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(br, act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r != 15:
                if not runs:
                    return 0
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.bits(r)
                return eobrun
            k += 16                               # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("JPEG AC run past band end")
        zz[k] = _extend(br.bits(s), s) << al
        k += 1
    return 0


def _ac_refine(br, zz, ss, se, al, act, eobrun):
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(br, act)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break                         # refine tail, then EOB run
                # ZRL: pass 16 zero-history coefficients
            elif s == 1:
                val = p1 if br.bits(1) else -p1
            else:
                raise ValueError("invalid JPEG refinement symbol")
            while k <= se:
                c = int(zz[k])
                if c != 0:
                    if br.bits(1) and (c & p1) == 0:
                        zz[k] = c + (p1 if c >= 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                zz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            c = int(zz[k])
            if c != 0:
                if br.bits(1) and (c & p1) == 0:
                    zz[k] = c + (p1 if c >= 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_scan(frame, scan, band, segs, dc_tabs, ac_tabs, restart, stores):
    """Decode one scan's entropy-coded segments into ``stores``, the
    frame's zigzag coefficient arrays (one (blocks_down, blocks_across, 64)
    int32 array per frame component, sized by :func:`_init_stores`).

    ``band`` is (Ss, Se, Ah, Al). A sequential scan is the band
    (0, 63, 0, 0): each block codes its DC difference, then its AC
    coefficients from 1. A progressive scan codes the DC band of one or
    more components, or one AC band of one component, either first
    (Ah = 0) or as a one-bit refinement (T.81 G.1.2). An interleaved scan
    walks MCU order, H×V blocks per component; a one-component scan walks
    that component's own unpadded block grid, one block per MCU (T.81
    A.2). Each restart interval resets the DC predictions and the EOB
    run."""
    ss, se, ah, al = band
    progressive = frame["progressive"]
    if progressive and ss == 0 and se != 0:
        raise ValueError("progressive scan mixes DC and AC bands")
    if progressive and ss and len(scan) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    cidx = {id(c): i for i, c in enumerate(frame["comps"])}
    comps = [c for c, _td, _ta in scan]
    sts = [stores[cidx[id(c)]] for c in comps]
    dcs = [dc_tabs.get(td) for _c, td, _ta in scan]
    acs = [ac_tabs.get(ta) for _c, _td, ta in scan]
    if se and any(t is None for t in acs):
        raise ValueError("JPEG scan references missing Huffman table")
    if len(scan) > 1:
        _hmax, _vmax, mcux, mcuy = _frame_geometry(frame)
        mcus = ([(si, sts[si][my * c["v"] + v, mx * c["h"] + u])
                 for si, c in enumerate(comps)
                 for v in range(c["v"]) for u in range(c["h"])]
                for my in range(mcuy) for mx in range(mcux))
    else:
        bh, bw = _comp_block_dims(frame, comps[0])
        mcus = ([(0, sts[0][by, bx])] for by in range(bh) for bx in range(bw))
    k0 = max(ss, 1)
    cur = _SegmentCursor(segs, restart)
    preds = [0] * len(scan)
    eobrun = 0
    for mcu in mcus:
        if cur.step():
            preds = [0] * len(scan)
            eobrun = 0
        br = cur.br
        for si, blk in mcu:
            if ss == 0:
                preds[si] = _dc_one(br, blk, ah, al, dcs[si], preds[si])
            if not se:
                continue
            if ah:
                eobrun = _ac_refine(br, blk, ss, se, al, acs[si], eobrun)
            else:
                eobrun = _ac_first(br, blk, k0, se, al, acs[si], eobrun,
                                   progressive)


def _dc_one(br, blk, ah, al, dct, pred):
    if ah == 0:                                   # first DC scan
        if dct is None:
            raise ValueError("JPEG scan references missing Huffman table")
        s = _huff_decode(br, dct)
        if s:
            pred += _extend(br.bits(s), s)
        blk[0] = pred << al
    else:                                         # refinement: one bit
        if br.bits(1):
            blk[0] = int(blk[0]) | (1 << al)
    return pred
