"""From-scratch standard-format codecs (pure struct + NumPy, no external
libraries): BMP (Windows DIB), PPM/PGM (netpbm), and WAV (RIFF PCM).

These give the multimodal layer REAL decode paths for common interchange
formats — the container has no PIL/imageio/soundfile, and the engine must
not depend on them anyway (the north rule requires from-scratch). Formats
are implemented against their public specifications:

- BMP: 14-byte BITMAPFILEHEADER + 40-byte BITMAPINFOHEADER, uncompressed
  (BI_RGB) 24-bit BGR or 8-bit greyscale-palette, bottom-up rows padded
  to 4 bytes.
- PPM (P6) / PGM (P5): ASCII header (magic, width, height, maxval ≤ 255)
  + raw big-endian samples.
- WAV: RIFF/WAVE with an uncompressed 16-bit PCM ``fmt `` chunk.

All decoders return the engine's canonical (bands, h, w) uint8 layout
(WAV returns (channels, n_samples) int16 + sample rate).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------- BMP ------

_BMP_FILE = struct.Struct("<2sIHHI")     # magic, file size, res1, res2, data offset
_BMP_INFO = struct.Struct("<IiiHHIIiiII")  # size, w, h, planes, bpp, comp, img size, ...


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h,w) or (1|3,h,w) uint8 → BMP bytes (8-bit grey palette or 24-bit)."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[None]
    bands, h, w = px.shape
    if px.dtype != np.uint8:
        raise ValueError("BMP encoder takes uint8 pixels")
    if bands == 1:
        row_len = (w + 3) & ~3
        palette = b"".join(struct.pack("<BBBB", g, g, g, 0) for g in range(256))
        data = np.zeros((h, row_len), np.uint8)
        data[:, :w] = px[0][::-1]                     # bottom-up
        offset = 14 + 40 + len(palette)
        body = palette + data.tobytes()
        bpp = 8
    elif bands == 3:
        row_len = (w * 3 + 3) & ~3
        data = np.zeros((h, row_len), np.uint8)
        bgr = px[::-1].transpose(1, 2, 0)             # (h,w,3) B,G,R
        data[:, :w * 3] = bgr[::-1].reshape(h, -1)    # bottom-up rows
        offset = 14 + 40
        body = data.tobytes()
        bpp = 24
    else:
        raise ValueError("BMP supports 1 or 3 bands")
    info = _BMP_INFO.pack(40, w, h, 1, bpp, 0, len(body), 2835, 2835,
                          256 if bpp == 8 else 0, 0)
    head = _BMP_FILE.pack(b"BM", 14 + 40 + len(body), 0, 0, offset)
    return head + info + body


def decode_bmp(buf: bytes) -> np.ndarray:
    """BMP bytes → (bands, h, w) uint8. Supports BI_RGB 8-bit (palette
    looked up; grey palettes collapse to 1 band) and 24-bit."""
    magic, _size, _r1, _r2, offset = _BMP_FILE.unpack_from(buf, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    (hdr_size, w, h, _planes, bpp, comp, _isz, _xp, _yp,
     clr_used, _clr_imp) = _BMP_INFO.unpack_from(buf, 14)
    if comp != 0:
        raise ValueError(f"unsupported BMP compression {comp}")
    top_down = h < 0
    h = abs(h)
    if bpp == 8:
        n_pal = clr_used or 256
        pal = np.frombuffer(buf, np.uint8, n_pal * 4, 14 + hdr_size).reshape(-1, 4)
        row_len = (w + 3) & ~3
        data = np.frombuffer(buf, np.uint8, row_len * h, offset).reshape(h, row_len)
        idx = data[:, :w] if top_down else data[::-1, :w]
        rgb = pal[idx][:, :, :3][:, :, ::-1]          # palette is BGRX → RGB
        if (rgb[:, :, 0] == rgb[:, :, 1]).all() and (rgb[:, :, 1] == rgb[:, :, 2]).all():
            return rgb[:, :, 0][None].copy()
        return rgb.transpose(2, 0, 1).copy()
    if bpp == 24:
        row_len = (w * 3 + 3) & ~3
        data = np.frombuffer(buf, np.uint8, row_len * h, offset).reshape(h, row_len)
        rows = data[:, :w * 3].reshape(h, w, 3)
        rows = rows if top_down else rows[::-1]
        return rows[:, :, ::-1].transpose(2, 0, 1).copy()   # BGR → RGB bands
    raise ValueError(f"unsupported BMP bpp {bpp}")


# ---------------------------------------------------------------- PNM ------

def encode_pnm(pixels: np.ndarray) -> bytes:
    """(h,w)/(1,h,w) → PGM P5; (3,h,w) → PPM P6 (maxval 255)."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[None]
    bands, h, w = px.shape
    if px.dtype != np.uint8:
        raise ValueError("PNM encoder takes uint8 pixels")
    if bands == 1:
        return f"P5\n{w} {h}\n255\n".encode() + px[0].tobytes()
    if bands == 3:
        return f"P6\n{w} {h}\n255\n".encode() + px.transpose(1, 2, 0).tobytes()
    raise ValueError("PNM supports 1 or 3 bands")


def decode_pnm(buf: bytes) -> np.ndarray:
    """P5/P6 bytes → (bands, h, w) uint8. Handles comments and arbitrary
    whitespace in the header, per the netpbm spec."""
    if buf[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PNM payload")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        while pos < len(buf) and buf[pos:pos + 1].isspace():
            pos += 1
        if buf[pos:pos + 1] == b"#":                   # comment to EOL
            while pos < len(buf) and buf[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos:pos + 1].isspace():
            pos += 1
        vals.append(int(buf[start:pos]))
    pos += 1                                          # single whitespace after maxval
    w, h, maxval = vals
    if maxval > 255:
        raise ValueError("16-bit PNM not supported")
    if buf[:2] == b"P5":
        return np.frombuffer(buf, np.uint8, h * w, pos).reshape(1, h, w).copy()
    arr = np.frombuffer(buf, np.uint8, h * w * 3, pos).reshape(h, w, 3)
    return arr.transpose(2, 0, 1).copy()


# ---------------------------------------------------------------- WAV ------

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """(channels, n) or (n,) int16 → RIFF PCM WAV bytes."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[None]
    ch, n = s.shape
    inter = s.T.reshape(-1).tobytes()                 # interleaved frames
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, ch, sample_rate,
                      byte_rate, ch * 2, 16)
    data = struct.pack("<4sI", b"data", len(inter)) + inter
    riff = b"WAVE" + fmt + data
    return struct.pack("<4sI", b"RIFF", len(riff)) + riff


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF PCM WAV → ((channels, n_samples) int16, sample_rate).
    Walks the chunk list (tolerates extra chunks like LIST/fact)."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    ch = rate = bits = None
    data = None
    while pos + 8 <= len(buf):
        cid, sz = struct.unpack_from("<4sI", buf, pos)
        body = buf[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            audio_fmt, ch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAV codec {audio_fmt} (PCM only)")
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)                      # chunks are word-aligned
    if data is None or ch is None:
        raise ValueError("missing fmt/data chunk")
    if bits != 16:
        raise ValueError(f"unsupported WAV bit depth {bits}")
    arr = np.frombuffer(data, "<i2")
    n = arr.size // ch
    return arr[:n * ch].reshape(n, ch).T.copy(), int(rate)


# ---------------------------------------------------------------- PNG ------
# From-scratch PNG (ISO/IEC 15948): stdlib zlib inflate/deflate + the five
# scanline filters. Decode supports bit depth 8 and 16, color types 0
# (grey), 2 (RGB), 3 (palette), 4 (grey+alpha), 6 (RGBA), non-interlaced.
# Encode writes bit-depth-8 grey/RGB/RGBA with a selectable uniform filter
# (deterministic output; all five filters covered for decoder round-trips).

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _png_filter_row(ftype: int, raw: np.ndarray, prev: np.ndarray,
                    bpp: int) -> np.ndarray:
    """Apply filter ``ftype`` to one raw scanline (encode side)."""
    r = raw.astype(np.int64)
    left = np.zeros_like(r)
    left[bpp:] = r[:-bpp]
    up = prev.astype(np.int64)
    ul = np.zeros_like(r)
    ul[bpp:] = up[:-bpp]
    if ftype == 0:
        out = r
    elif ftype == 1:
        out = r - left
    elif ftype == 2:
        out = r - up
    elif ftype == 3:
        out = r - (left + up) // 2
    elif ftype == 4:
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, ul))
        out = r - pred
    else:
        raise ValueError(f"PNG filter type {ftype}")
    return (out % 256).astype(np.uint8)


def _png_unfilter_row(ftype: int, cur: np.ndarray, prev: np.ndarray,
                      bpp: int) -> np.ndarray:
    """Reconstruct one scanline (decode side). Filters 0-2 vectorize; 1 is
    a per-lane cumsum; 3-4 recurse on the left neighbor → short x-loop."""
    n = cur.size
    if ftype == 0:
        return cur.copy()
    if ftype == 2:
        return ((cur.astype(np.int64) + prev) % 256).astype(np.uint8)
    if ftype == 1:
        lanes = cur.reshape(n // bpp, bpp).astype(np.int64)
        return (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(n)
    out = np.empty(n, np.int64)
    c = cur.astype(np.int64)
    up = prev.astype(np.int64)
    if ftype == 3:
        out[:bpp] = (c[:bpp] + up[:bpp] // 2) % 256
        for x in range(bpp, n):
            out[x] = (c[x] + (out[x - bpp] + up[x]) // 2) % 256
        return out.astype(np.uint8)
    if ftype == 4:
        out[:bpp] = (c[:bpp] + up[:bpp]) % 256   # left=ul=0 → Paeth picks up
        for x in range(bpp, n):
            a, b_, cc = out[x - bpp], up[x], up[x - bpp]
            p = a + b_ - cc
            pa, pb, pc = abs(p - a), abs(p - b_), abs(p - cc)
            pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else cc)
            out[x] = (c[x] + pred) % 256
        return out.astype(np.uint8)
    raise ValueError(f"unsupported PNG filter type {ftype}")


# Adam7 pass grid: (x0, y0, dx, dy) per pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _filter_image_rows(img: np.ndarray, filter_type: int, bpp: int) -> bytes:
    """Serialize (rows, rowbytes) with one filter byte + filtered data per
    scanline (prev = previous row of the same group, per the spec)."""
    prev = np.zeros(img.shape[1], np.uint8)
    lines = []
    for yy in range(img.shape[0]):
        lines.append(bytes([filter_type])
                     + _png_filter_row(filter_type, img[yy], prev, bpp).tobytes())
        prev = img[yy]
    return b"".join(lines)


def encode_png(pixels: np.ndarray, filter_type: int = 0,
               level: int = 6, interlace: bool = False) -> bytes:
    """(h,w)/(1,h,w) → greyscale PNG; (3,h,w) → RGB; (4,h,w) → RGBA.
    uint8 only. ``filter_type`` applies one filter to every scanline
    (0=None default: deterministic and cheap; 1-4 exist chiefly to
    exercise every decoder unfilter path). ``interlace`` writes Adam7
    (each of the 7 passes filtered as its own scanline group)."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[None]
    if px.dtype != np.uint8:
        raise ValueError("PNG encoder takes uint8 pixels")
    bands, h, w = px.shape
    ctype = {1: 0, 3: 2, 4: 6}.get(bands)
    if ctype is None:
        raise ValueError("PNG encoder supports 1, 3 or 4 bands")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, int(interlace))
    hwc = np.ascontiguousarray(px.transpose(1, 2, 0))      # (h, w, bands)
    if interlace:
        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = hwc[y0::dy, x0::dx]
            if sub.size == 0:
                continue                                    # pass absent
            raw += _filter_image_rows(
                np.ascontiguousarray(sub).reshape(sub.shape[0], -1),
                filter_type, bands)
    else:
        raw = _filter_image_rows(hwc.reshape(h, w * bands), filter_type, bands)
    idat = zlib.compress(raw, level)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IDAT", idat)
            + _png_chunk(b"IEND", b""))


def _unfilter_group(raw: bytes, offset: int, nrows: int, rowbytes: int,
                    bpp: int) -> tuple[np.ndarray, int]:
    """Unfilter one scanline group (the whole image, or one Adam7 pass)."""
    need = nrows * (rowbytes + 1)
    if len(raw) - offset < need:
        raise ValueError("PNG pixel data truncated")
    rows = np.frombuffer(raw, np.uint8, need, offset).reshape(nrows, rowbytes + 1)
    out = np.empty((nrows, rowbytes), np.uint8)
    prev = np.zeros(rowbytes, np.uint8)
    for yy in range(nrows):
        prev = _png_unfilter_row(int(rows[yy, 0]), rows[yy, 1:], prev, bpp)
        out[yy] = prev
    return out, offset + need


def decode_png(buf: bytes) -> np.ndarray:
    """PNG bytes → (bands, h, w) uint8 (or uint16 for bit depth 16).
    Palette images expand through PLTE (grey palettes collapse to 1 band,
    like decode_bmp). Both interlace methods decode (Adam7 passes are
    unfiltered as independent groups and scattered onto the pixel grid)."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        (length,), ctype = struct.unpack_from(">I", buf, pos), buf[pos + 4:pos + 8]
        data = buf[pos + 8:pos + 8 + length]
        pos += 12 + length                       # len + type + data + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if comp or filt:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if ctype_i not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {ctype_i}")
    if depth not in (8, 16) or (depth == 16 and ctype_i == 3):
        raise ValueError(f"unsupported PNG bit depth {depth}")
    nch = _PNG_CHANNELS[ctype_i]
    sample_bytes = depth // 8
    bpp = nch * sample_bytes
    raw = zlib.decompress(bytes(idat))
    if interlace:
        px_bytes = np.zeros((h, w, bpp), np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            ph = (h - y0 + dy - 1) // dy
            pw = (w - x0 + dx - 1) // dx
            if ph <= 0 or pw <= 0:
                continue
            grp, offset = _unfilter_group(raw, offset, ph, pw * bpp, bpp)
            px_bytes[y0::dy, x0::dx] = grp.reshape(ph, pw, bpp)
        out = px_bytes.reshape(h, w * bpp)
    else:
        out, _ = _unfilter_group(raw, 0, h, w * bpp, bpp)
    if depth == 16:
        img = out.reshape(h, w, nch, 2).astype(np.uint16)
        img = (img[..., 0] << 8) | img[..., 1]           # network order
        return np.ascontiguousarray(img.transpose(2, 0, 1))
    img = out.reshape(h, w, nch)
    if ctype_i == 3:                                     # palette lookup
        if plte is None:
            raise ValueError("PNG palette image missing PLTE")
        rgb = plte[img[:, :, 0]]
        if (rgb[:, :, 0] == rgb[:, :, 1]).all() and (rgb[:, :, 1] == rgb[:, :, 2]).all():
            return rgb[:, :, 0][None].copy()
        return np.ascontiguousarray(rgb.transpose(2, 0, 1))
    return np.ascontiguousarray(img.transpose(2, 0, 1))


# ------------------------------------------------------------ dispatch -----

def sniff(buf: bytes) -> str | None:
    """Format from magic bytes: 'bmp' | 'pnm' | 'png' | 'jpeg' | 'wav' |
    'rf' (engine container) | None."""
    if buf[:2] == b"BM":
        return "bmp"
    if buf[:2] in (b"P5", b"P6"):
        return "pnm"
    if buf[:8] == _PNG_SIG:
        return "png"
    if buf[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        return "wav"
    if buf[:2] == b"RF":
        return "rf"
    return None


IMAGE_KINDS = ("bmp", "pnm", "png", "jpeg", "rf")


def peek_png(buf: bytes) -> dict:
    """PNG header metadata without inflating any pixel data. Palette
    (color type 3) band count matches decode_png's semantics: a color
    PLTE expands to 3 bands, an all-grey PLTE collapses to 1 — the PLTE
    chunk is a ≤768-byte metadata read, not pixel inflation (the old
    unconditional bands=1 disagreed with decode on color palettes)."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    w, h, depth, ctype, _c, _f, interlace = struct.unpack_from(">IIBBBBB", buf, 16)
    bands = _PNG_CHANNELS.get(ctype, 0)
    if ctype == 3:
        pos = 8
        while pos + 8 <= len(buf):
            (ln,) = struct.unpack_from(">I", buf, pos)
            tag = buf[pos + 4:pos + 8]
            if tag == b"PLTE":
                pal = np.frombuffer(buf, np.uint8, ln, pos + 8).reshape(-1, 3)
                bands = 1 if (pal[:, 0] == pal[:, 1]).all()                     and (pal[:, 1] == pal[:, 2]).all() else 3
                break
            if tag == b"IDAT":
                break
            pos += 12 + ln
    return {"fmt": "png", "bands": bands,
            "h": int(h), "w": int(w), "depth": int(depth),
            "nbytes": len(buf)}


def peek_jpeg(buf: bytes) -> dict:
    """JPEG frame metadata from the SOF marker — no entropy decode."""
    if buf[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG payload")
    pos, n = 2, len(buf)
    while pos + 4 <= n:
        if buf[pos] != 0xFF:
            raise ValueError("JPEG marker stream corrupt")
        while pos + 1 < n and buf[pos + 1] == 0xFF:   # FF fill (B.1.1.2)
            pos += 1
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue
        (seglen,) = struct.unpack_from(">H", buf, pos)
        if marker in (0xC0, 0xC1, 0xC2):          # any SOF dims
            prec, h, w, nc = struct.unpack_from(">BHHB", buf, pos + 2)
            return {"fmt": "jpeg", "bands": int(nc), "h": int(h),
                    "w": int(w), "depth": int(prec), "nbytes": len(buf)}
        if marker == 0xDA:
            break                                  # scan before SOF: corrupt
        pos += seglen
    raise ValueError("JPEG has no SOF frame header")


def peek_image_any(buf: bytes) -> dict:
    """Cheap metadata for ANY supported image payload — the catalog-crawl
    path over interchange formats: header fields only, pixels never
    decompressed (PNG IDAT untouched; JPEG entropy segments skipped)."""
    from . import codec
    buf = bytes(buf)
    kind = sniff(buf)
    if kind == "png":
        return peek_png(buf)
    if kind == "jpeg":
        return peek_jpeg(buf)
    if kind == "rf":
        meta = codec.peek_header(buf)
        return {"fmt": "rf:" + meta["fmt"], "bands": meta["bands"],
                "h": meta["h"], "w": meta["w"], "depth": 0,
                "nbytes": len(buf)}
    if kind == "bmp":
        (hdr_size, w, h, _pl, bpp, _comp, _isz, _xp, _yp,
         clr_used, _ci) = _BMP_INFO.unpack_from(buf, 14)
        if bpp == 24:
            bands = 3
        else:
            # match decode_bmp: color palettes expand to 3 bands, all-grey
            # palettes collapse to 1 (palette = header metadata, not pixels)
            n_pal = clr_used or 256
            pal = np.frombuffer(buf, np.uint8, n_pal * 4,
                                14 + hdr_size).reshape(-1, 4)
            bands = 1 if (pal[:, 0] == pal[:, 1]).all()                 and (pal[:, 1] == pal[:, 2]).all() else 3
        return {"fmt": "bmp", "bands": bands,
                "h": abs(int(h)), "w": int(w), "depth": 8, "nbytes": len(buf)}
    if kind == "pnm":
        # header-only: magic + dims from the ASCII preamble — the old path
        # ran a full pixel decode (frombuffer+reshape+copy of h·w·b bytes)
        # just to report shape, breaking the O(header) catalog contract
        toks, pos = [], 2
        while len(toks) < 3 and pos < len(buf):
            while pos < len(buf) and buf[pos:pos + 1].isspace():
                pos += 1
            if buf[pos:pos + 1] == b"#":
                while pos < len(buf) and buf[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(buf) and not buf[pos:pos + 1].isspace():
                pos += 1
            toks.append(buf[start:pos])
        w2, h2 = int(toks[0]), int(toks[1])   # tokens after magic: w h maxval
        return {"fmt": "pnm", "bands": 3 if buf[:2] == b"P6" else 1,
                "h": h2, "w": w2, "depth": 8, "nbytes": len(buf)}
    raise ValueError(f"unrecognized image payload (magic {buf[:4]!r})")


def decode_image_any(buf: bytes) -> np.ndarray:
    """Decode any supported image payload to (bands, h, w)."""
    from . import codec, jpeg
    kind = sniff(bytes(buf))
    if kind == "bmp":
        return decode_bmp(buf)
    if kind == "pnm":
        return decode_pnm(buf)
    if kind == "png":
        return decode_png(buf)
    if kind == "jpeg":
        return jpeg.decode_jpeg(buf)
    if kind == "rf":
        return codec.decode(buf)
    raise ValueError(f"unrecognized image payload (magic {bytes(buf[:4])!r})")


# ------------------------------------------------------------------------
# ISO base media (MP4) — ISO/IEC 14496-12 box structure, from scratch.
#
# The training-data brief's video modality: crawl video arrives in ISO-BMFF
# containers. The engine needs DEMUX (find the video track, map samples to
# byte ranges, pull the coded frames) — full codec coverage does not exist
# in this environment, so frames are decodable when sample entries are
# image-coded ('jpeg'/'mjpa' motion-JPEG or 'png '), and anything else
# (avc1/hvc1…) is surfaced as metadata + quarantined payloads, the same
# contract the image path uses for arithmetic-coded JPEG.
#
# The MUXER exists so fixtures are real containers (ftyp+mdat+moov with a
# correct stbl), not hand-waved blobs: demux is tested against files this
# module did not merely memcpy (offsets/sizes go through stsc/stsz/stco).

def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">B3s", version,
                                   flags.to_bytes(3, "big")) + payload)


def encode_mp4_samples(frames: list[bytes], codec_tag: str = "jpeg",
                       width: int = 0, height: int = 0,
                       timescale: int = 600, frame_dur: int = 25,
                       codec_config: bytes | None = None) -> bytes:
    """Minimal valid ISO-BMFF: one video track whose samples are the given
    coded frames (motion-JPEG layout: each sample an interchange image).
    Chunks of up to 3 samples exercise the stsc/stco mapping.
    ``codec_config`` (e.g. an avcC box from :func:`encode_avcc`) is
    appended inside the sample entry, as ISO 14496-15 lays it out."""
    if not frames:
        raise ValueError("no frames")
    mdat_payload = b"".join(frames)
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mdat = _box(b"mdat", mdat_payload)
    mdat_off = len(ftyp) + 8                      # file offset of sample 0

    n = len(frames)
    sizes = [len(f) for f in frames]
    # chunking: 3 samples per chunk (last chunk may be short)
    chunk_sizes, i = [], 0
    while i < n:
        chunk_sizes.append(min(3, n - i))
        i += min(3, n - i)
    chunk_offsets, pos = [], mdat_off
    si = 0
    for csz in chunk_sizes:
        chunk_offsets.append(pos)
        pos += sum(sizes[si:si + csz])
        si += csz

    dur = n * frame_dur
    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, timescale, dur) + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100) + b"\x00" * 10
        + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                      0x40000000) + b"\x00" * 24 + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, 7, struct.pack(">IIIII", 0, 0, 1, 0, dur)
                 + b"\x00" * 16
                 + struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0,
                               0, 0, 0x40000000)
                 + struct.pack(">II", width << 16, height << 16))
    mdhd = _full(b"mdhd", 0, 0, struct.pack(">IIII", 0, 0, timescale, dur)
                 + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, struct.pack(">I", 0) + b"vide"
                 + b"\x00" * 12 + b"VideoHandler\x00")
    vmhd = _full(b"vmhd", 0, 1, b"\x00" * 8)
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1)
                 + _full(b"url ", 0, 1, b""))
    dinf = _box(b"dinf", dref)
    # sample entry: VisualSampleEntry with the codec's 4CC
    tag = codec_tag.ljust(4)[:4].encode()
    entry = _box(tag, b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
                 + struct.pack(">HH", width, height)
                 + struct.pack(">II", 0x00480000, 0x00480000)
                 + struct.pack(">I", 0) + struct.pack(">H", 1)
                 + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
                 + (codec_config or b""))
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0, struct.pack(">III", 1, n, frame_dur))
    # stsc runs: collapse consecutive equal samples-per-chunk
    runs = []
    for ci, csz in enumerate(chunk_sizes, start=1):
        if not runs or runs[-1][1] != csz:
            runs.append([ci, csz])
    stsc = _full(b"stsc", 0, 0, struct.pack(">I", len(runs)) + b"".join(
        struct.pack(">III", first, csz, 1) for first, csz in runs))
    stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n)
                 + b"".join(struct.pack(">I", s) for s in sizes))
    stco = _full(b"stco", 0, 0, struct.pack(">I", len(chunk_offsets))
                 + b"".join(struct.pack(">I", o) for o in chunk_offsets))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", vmhd + dinf + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _iter_boxes(buf: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", buf, pos)
        btype = buf[pos + 4:pos + 8]
        hdr = 8
        if size == 1:                              # 64-bit largesize
            (size,) = struct.unpack_from(">Q", buf, pos + 8)
            hdr = 16
        elif size == 0:                            # to end of file
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("ISO-BMFF box size out of bounds")
        yield btype, pos + hdr, pos + size
        pos += size


def _find_box(buf: bytes, path: list[bytes], start: int, end: int):
    """First box at the given nesting path → (payload_start, payload_end)."""
    for btype, ps, pe in _iter_boxes(buf, start, end):
        if btype == path[0]:
            if len(path) == 1:
                return ps, pe
            return _find_box(buf, path[1:], ps, pe)
    return None


def peek_mp4(buf: bytes) -> dict:
    """Container metadata without touching sample payloads: video track's
    codec 4CC, dimensions, sample count, duration."""
    buf = bytes(buf)
    info = _demux_tables(buf)
    return {"fmt": "mp4", "codec": info["codec"], "w": info["w"],
            "h": info["h"], "n_samples": len(info["sizes"]),
            "duration_s": info["duration_s"], "nbytes": len(buf),
            "profile_idc": info["profile_idc"],
            "level_idc": info["level_idc"],
            "codec_w": info["codec_w"], "codec_h": info["codec_h"]}


def _demux_tables(buf: bytes) -> dict:
    """Walk moov → video trak → stbl and resolve the sample layout."""
    if sniff_mp4(buf) != "mp4":
        raise ValueError("not an ISO base media file (no ftyp)")
    n = len(buf)
    moov = _find_box(buf, [b"moov"], 0, n)
    if moov is None:
        raise ValueError("ISO-BMFF: no moov box")
    vtrak = None
    for btype, ps, pe in _iter_boxes(buf, *moov):
        if btype != b"trak":
            continue
        hdlr = _find_box(buf, [b"mdia", b"hdlr"], ps, pe)
        if hdlr and buf[hdlr[0] + 8:hdlr[0] + 12] == b"vide":
            vtrak = (ps, pe)
            break
    if vtrak is None:
        raise ValueError("ISO-BMFF: no video track")
    stbl = _find_box(buf, [b"mdia", b"minf", b"stbl"], *vtrak)
    if stbl is None:
        raise ValueError("ISO-BMFF: video track has no sample table")
    boxes = {t: (ps, pe) for t, ps, pe in _iter_boxes(buf, *stbl)}
    for need in (b"stsd", b"stsz", b"stsc", b"stco"):
        if need not in boxes and not (need == b"stco" and b"co64" in boxes):
            raise ValueError(f"ISO-BMFF: missing {need.decode()} box")
    # stsd → first sample entry 4CC + dims
    ps, pe = boxes[b"stsd"]
    (entry_size,) = struct.unpack_from(">I", buf, ps + 8)
    tag = buf[ps + 12:ps + 16].decode("latin1").strip()
    w, h = struct.unpack_from(">HH", buf, ps + 16 + 8 + 16)
    # codec-specific config boxes follow the 78-byte VisualSampleEntry
    # body: avcC/hvcC give the AUTHORITATIVE dims + profile for tracks we
    # quarantine (the SPS governs; stsd dims are advisory)
    prof = {"profile_idc": None, "level_idc": None, "w": None, "h": None}
    try:
        for bt, cs, ce in _iter_boxes(buf, ps + 16 + 78, ps + 8 + entry_size):
            if bt == b"avcC":
                prof = parse_avcc(buf[cs:ce])
                break
            if bt == b"hvcC":
                prof = parse_hvcc(buf[cs:ce])
                break
    except (ValueError, IndexError, struct.error):
        pass                  # best-effort: a truncated record keeps None
    # stsz
    ps, pe = boxes[b"stsz"]
    fixed, cnt = struct.unpack_from(">II", buf, ps + 4)
    if fixed:
        sizes = [fixed] * cnt
    else:
        sizes = list(struct.unpack_from(f">{cnt}I", buf, ps + 12))
    # stco / co64
    if b"stco" in boxes:
        ps, pe = boxes[b"stco"]
        (nch,) = struct.unpack_from(">I", buf, ps + 4)
        offsets = list(struct.unpack_from(f">{nch}I", buf, ps + 8))
    else:
        ps, pe = boxes[b"co64"]
        (nch,) = struct.unpack_from(">I", buf, ps + 4)
        offsets = list(struct.unpack_from(f">{nch}Q", buf, ps + 8))
    # stsc runs → samples-per-chunk per chunk
    ps, pe = boxes[b"stsc"]
    (nruns,) = struct.unpack_from(">I", buf, ps + 4)
    runs = [struct.unpack_from(">III", buf, ps + 8 + 12 * i)
            for i in range(nruns)]
    spc = []
    for i, (first, per, _desc) in enumerate(runs):
        last = runs[i + 1][0] - 1 if i + 1 < nruns else len(offsets)
        spc.extend([per] * (last - first + 1))
    # duration (mdhd)
    duration_s = 0.0
    mdhd = _find_box(buf, [b"mdia", b"mdhd"], *vtrak)
    if mdhd:
        ver = buf[mdhd[0]]
        if ver == 0:
            _c, _m, ts, dur = struct.unpack_from(">IIII", buf, mdhd[0] + 4)
        else:
            _c, _m, ts, dur = struct.unpack_from(">QQIQ", buf, mdhd[0] + 4)
        duration_s = dur / ts if ts else 0.0
    return {"codec": tag, "w": int(w), "h": int(h), "sizes": sizes,
            "chunk_offsets": offsets, "samples_per_chunk": spc,
            "duration_s": duration_s,
            "profile_idc": prof["profile_idc"], "level_idc": prof["level_idc"],
            "codec_w": prof["w"], "codec_h": prof["h"]}


def sniff_mp4(buf: bytes) -> str | None:
    return "mp4" if len(buf) >= 12 and buf[4:8] == b"ftyp" else None


def demux_mp4(buf: bytes) -> tuple[str, list[bytes]]:
    """→ (codec_tag, [coded sample bytes, ...]) for the video track, by
    resolving each sample's byte range through stsc/stsz/stco — never by
    scanning mdat for magics (offsets are authoritative, matching how any
    conformant reader locates samples)."""
    buf = bytes(buf)
    t = _demux_tables(buf)
    return t["codec"], samples_from_tables(buf, t)


def samples_from_tables(buf: bytes, t: dict) -> list[bytes]:
    """Slice the video samples out of ``buf`` given resolved demux tables
    (shared by demux_mp4 and callers that already paid _demux_tables)."""
    sizes, spc, offs = t["sizes"], t["samples_per_chunk"], t["chunk_offsets"]
    samples, si = [], 0
    for ci, off in enumerate(offs):
        pos = off
        for _ in range(spc[ci] if ci < len(spc) else 0):
            if si >= len(sizes):
                break
            samples.append(buf[pos:pos + sizes[si]])
            pos += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError(f"ISO-BMFF: chunk map covers {si} of {len(sizes)} samples")
    return samples


# --------------------------------------------------------------------------
# H.264 / H.265 parameter-set headers (public ITU-T H.264 §7.3.2.1.1,
# ITU-T H.265 §7.3.2.2.1/§7.3.3, ISO/IEC 14496-15 avcC/hvcC records).
#
# DECODE of these codecs stays out of scope (quarantine contract), but a
# crawl's catalog should still carry authoritative dimensions + profile
# for quarantined tracks — the SPS, not the container's stsd entry, is
# what a real decoder would honor. The reference repo has no analog; this
# is pure bitstream-spec parsing.

class _BitReader:
    """MSB-first bit reader with exp-Golomb (ue/se) over an RBSP."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0                       # bit position

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.d[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-Golomb runaway")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)


def _strip_emulation(nal: bytes) -> bytes:
    """NAL → RBSP: drop the 0x03 emulation-prevention byte in 00 00 03."""
    out = bytearray()
    zeros = 0
    for b in nal:
        if zeros >= 2 and b == 3:
            zeros = 0
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


_H264_HIGH_PROFILES = {100, 110, 122, 244, 44, 83, 86, 118, 128,
                       138, 139, 134, 135}


def _skip_h264_scaling_list(r: _BitReader, size: int) -> None:
    last, nxt = 8, 8
    for _ in range(size):
        if nxt != 0:
            nxt = (last + r.se() + 256) % 256
        last = nxt if nxt != 0 else last


def parse_sps_h264(nal: bytes) -> dict:
    """Coded dims + profile/level from an H.264 sequence parameter set
    (NAL type 7, header byte included)."""
    r = _BitReader(_strip_emulation(nal[1:]))      # skip NAL header byte
    profile = r.u(8)
    r.u(8)                                          # constraint flags
    level = r.u(8)
    r.ue()                                          # sps id
    chroma, separate = 1, 0
    if profile in _H264_HIGH_PROFILES:
        chroma = r.ue()
        if chroma == 3:
            separate = r.u(1)
        r.ue(); r.ue(); r.u(1)                      # bit depths, bypass
        if r.u(1):                                  # scaling matrix
            for i in range(8 if chroma != 3 else 12):
                if r.u(1):
                    _skip_h264_scaling_list(r, 16 if i < 6 else 64)
    r.ue()                                          # log2_max_frame_num
    poc = r.ue()
    if poc == 0:
        r.ue()
    elif poc == 1:
        r.u(1); r.se(); r.se()
        for _ in range(r.ue()):
            r.se()
    r.ue(); r.u(1)                                  # refs, gaps
    pw = r.ue()
    ph = r.ue()
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)
    r.u(1)                                          # direct_8x8
    cl = cr = ct = cb = 0
    if r.u(1):                                      # frame_cropping_flag
        cl, cr, ct, cb = r.ue(), r.ue(), r.ue(), r.ue()
    sub_w, sub_h = {1: (2, 2), 2: (2, 1), 3: (1, 1)}.get(chroma, (1, 1))
    if chroma == 0 or separate:
        ux, uy = 1, 2 - frame_mbs_only
    else:
        ux, uy = sub_w, sub_h * (2 - frame_mbs_only)
    w = 16 * (pw + 1) - ux * (cl + cr)
    h = 16 * (ph + 1) * (2 - frame_mbs_only) - uy * (ct + cb)
    return {"profile_idc": profile, "level_idc": level,
            "w": int(w), "h": int(h)}


def parse_sps_h265(nal: bytes) -> dict:
    """Coded dims + profile/level from an H.265 SPS (NAL type 33,
    2-byte header included)."""
    r = _BitReader(_strip_emulation(nal[2:]))      # skip NAL header
    r.u(4)
    max_sub = r.u(3)
    r.u(1)
    # profile_tier_level(profilePresentFlag=1, max_sub)
    r.u(2); r.u(1)
    profile = r.u(5)
    r.u(32)                                         # compat flags
    r.u(48)                                         # source + reserved bits
    level = r.u(8)
    pp, lp = [], []
    for _ in range(max_sub):
        pp.append(r.u(1)); lp.append(r.u(1))
    if max_sub > 0:
        for _ in range(max_sub, 8):
            r.u(2)
    for i in range(max_sub):
        if pp[i]:
            r.u(88)
        if lp[i]:
            r.u(8)
    r.ue()                                          # sps id
    chroma = r.ue()
    if chroma == 3:
        r.u(1)
    w = r.ue()
    h = r.ue()
    if r.u(1):                                      # conformance window
        cl, cr, ct, cb = r.ue(), r.ue(), r.ue(), r.ue()
        sub_w, sub_h = {1: (2, 2), 2: (2, 1), 3: (1, 1)}.get(chroma, (1, 1))
        w -= sub_w * (cl + cr)
        h -= sub_h * (ct + cb)
    return {"profile_idc": profile, "level_idc": level,
            "w": int(w), "h": int(h)}


def parse_avcc(payload: bytes) -> dict:
    """AVCDecoderConfigurationRecord → profile/level + SPS coded dims
    (the record's indication bytes are the fallback when the SPS itself
    is absent or unparseable)."""
    out = {"profile_idc": payload[1], "level_idc": payload[3],
           "w": None, "h": None}
    n_sps = payload[5] & 0x1F
    pos = 6
    for _ in range(n_sps):
        (ln,) = struct.unpack_from(">H", payload, pos)
        sps = payload[pos + 2:pos + 2 + ln]
        pos += 2 + ln
        try:
            out.update(parse_sps_h264(sps))
        except (ValueError, IndexError, struct.error):
            pass                                    # truncated SPS
        break                                       # first SPS governs
    return out


def parse_hvcc(payload: bytes) -> dict:
    """HEVCDecoderConfigurationRecord → profile/level + SPS coded dims."""
    out = {"profile_idc": payload[1] & 0x1F, "level_idc": payload[12],
           "w": None, "h": None}
    n_arrays = payload[22]
    pos = 23
    for _ in range(n_arrays):
        nal_type = payload[pos] & 0x3F
        (n_nalus,) = struct.unpack_from(">H", payload, pos + 1)
        pos += 3
        for _ in range(n_nalus):
            (ln,) = struct.unpack_from(">H", payload, pos)
            nal = payload[pos + 2:pos + 2 + ln]
            pos += 2 + ln
            if nal_type == 33 and out["w"] is None:     # SPS
                try:
                    out.update(parse_sps_h265(nal))
                except (ValueError, IndexError, struct.error):
                    pass                            # truncated SPS
    return out


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def u(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v: int):
        k = v + 1
        n = k.bit_length()
        self.u(0, n - 1)
        self.u(k, n)

    def rbsp(self) -> bytes:
        bits = self.bits + [1]                      # rbsp_stop_one_bit
        while len(bits) % 8:
            bits.append(0)
        raw = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i:i + 8]:
                b = (b << 1) | bit
            raw.append(b)
        # emulation prevention: 00 00 0x → 00 00 03 0x
        out = bytearray()
        zeros = 0
        for b in raw:
            if zeros >= 2 and b <= 3:
                out.append(3)
                zeros = 0
            out.append(b)
            zeros = zeros + 1 if b == 0 else 0
        return bytes(out)


def encode_avcc(w: int, h: int, profile_idc: int = 66,
                level_idc: int = 30) -> bytes:
    """Minimal valid avcC box payload carrying ONE baseline SPS with the
    given coded dimensions (even dims; 4:2:0 crop units). Fixture-grade:
    enough for any conformant header parser to recover dims + profile."""
    if w % 2 or h % 2:
        raise ValueError("even dimensions required (4:2:0 crop units)")
    mbs_w = (w + 15) // 16
    mbs_h = (h + 15) // 16
    bw = _BitWriter()
    bw.u(profile_idc, 8)
    bw.u(0, 8)                                      # constraint flags
    bw.u(level_idc, 8)
    bw.ue(0)                                        # sps id
    bw.ue(0)                                        # log2_max_frame_num-4
    bw.ue(0)                                        # poc type 0
    bw.ue(0)                                        # log2_max_poc_lsb-4
    bw.ue(1)                                        # max_num_ref_frames
    bw.u(0, 1)                                      # gaps allowed
    bw.ue(mbs_w - 1)
    bw.ue(mbs_h - 1)
    bw.u(1, 1)                                      # frame_mbs_only
    bw.u(1, 1)                                      # direct_8x8
    crop_r = (16 * mbs_w - w) // 2
    crop_b = (16 * mbs_h - h) // 2
    if crop_r or crop_b:
        bw.u(1, 1)
        bw.ue(0); bw.ue(crop_r); bw.ue(0); bw.ue(crop_b)
    else:
        bw.u(0, 1)
    bw.u(0, 1)                                      # no VUI
    sps = bytes([0x67]) + bw.rbsp()
    rec = (bytes([1, profile_idc, 0, level_idc, 0xFF, 0xE1])
           + struct.pack(">H", len(sps)) + sps + bytes([0]))
    return _box(b"avcC", rec)


# ----------------------------------------------------- ustar (tar) ---------

def tar_archive(members) -> bytes:
    """Minimal deterministic POSIX ustar archive (the WebDataset training
    shard container), from scratch: 512-byte headers (name ≤ 100 bytes,
    octal size/mode/uid/gid, mtime pinned to 0 so identical inputs give
    identical bytes), 8-space checksum-field rule, type '0', 'ustar\\x00'
    magic + '00' version, data zero-padded to 512, two zero end blocks.
    ``members`` is an ordered list of (name, payload bytes). Readable by
    Python's stdlib ``tarfile`` (the independence check in pytest) and
    every tar since 1988."""
    out = bytearray()
    for name, data in members:
        nb = name.encode("utf-8")
        if len(nb) > 100:
            raise ValueError(f"member name too long for ustar: {name!r}")
        hdr = bytearray(512)
        hdr[0:len(nb)] = nb
        hdr[100:108] = b"0000644\x00"            # mode
        hdr[108:116] = b"0000000\x00"            # uid
        hdr[116:124] = b"0000000\x00"            # gid
        hdr[124:136] = f"{len(data):011o}".encode() + b"\x00"
        hdr[136:148] = b"00000000000\x00"        # mtime = 0
        hdr[148:156] = b" " * 8                  # checksum placeholder
        hdr[156:157] = b"0"                      # regular file
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
        chk = sum(hdr)
        hdr[148:156] = f"{chk:06o}".encode() + b"\x00 "
        out += hdr
        out += data
        pad = (-len(data)) % 512
        out += b"\x00" * pad
    out += b"\x00" * 1024
    return bytes(out)
