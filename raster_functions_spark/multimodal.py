"""Multimodal (image/audio/video) column plumbing for training pipelines.

Opaque ``binary`` payload columns with typed metadata, driven through
``mapInPandas`` batch kernels. Real decode paths, all from scratch:

- the engine container (codec.py: raw/rle/zlib/dct),
- BMP, PPM/PGM and RIFF-PCM WAV (formats.py — pure struct+NumPy, no
  external libraries),
- PNG (formats.decode_png: stdlib zlib + the five scanline filters),
- baseline JPEG (jpeg.py: Annex-K huffman + the shared 8×8 DCT basis).

Video containers demux for real (round 4): formats.demux_mp4 walks the
ISO-BMFF box tree (moov → video trak → stsc/stsz/stco sample map) and
``video_decode_metrics`` decodes image-coded tracks (motion-JPEG / PNG
samples); other codecs (avc1/hvc1 …) surface demuxed metadata with
ok=false — the quarantine contract.

Tile-to-tile steps emit the tile-row contract of :mod:`raster`:
``resize_tiles`` and ``frame_sample`` (bands as frames) are
:class:`raster.TileOp` kernels run through ``raster.apply_chain``;
``augment_tiles`` (extra decision columns) and ``patchify_tiles`` (one
row per patch) keep their own pass over ``raster.chained_tiles`` and fill
``TILE_FIELDS`` with ``tile_row``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec, formats
from .operators.stack import grouped_sorted_map
from .raster import (TILE_COLS, TILE_FIELDS, TileOp, apply_chain, chained_tiles,
                     tile_columns, tile_row)


def decode_external_image(buf: bytes) -> np.ndarray:
    """Decode an external image payload to (bands, h, w). Every common
    interchange format decodes from scratch: BMP/PNM (formats.py), PNG
    (zlib + the five scanline filters, formats.decode_png), baseline JPEG
    (huffman + IDCT, jpeg.decode_jpeg) and the engine container."""
    kind = formats.sniff(bytes(buf))
    if kind in formats.IMAGE_KINDS:
        return formats.decode_image_any(buf)
    raise ValueError(
        f"unrecognized image payload (magic {bytes(buf[:4])!r}); "
        "supported: BMP, PNM, PNG, baseline JPEG, engine container")


def fake_decode(buf: bytes, h: int = 8, w: int = 8, bands: int = 3) -> np.ndarray:
    """Deterministic stand-in decode: pixels derived from payload bytes.
    Lets the full pipeline (batching, schema, feature extraction) run and
    be asserted on without external codec libs."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    reps = int(np.ceil(bands * h * w / max(raw.size, 1)))
    return np.tile(raw, reps)[:bands * h * w].reshape(bands, h, w)


FEATURE_SCHEMA = T.StructType([
    T.StructField("px_mean", T.DoubleType()),
    T.StructField("px_std", T.DoubleType()),
    T.StructField("px_min", T.DoubleType()),
    T.StructField("px_max", T.DoubleType()),
    T.StructField("edge_energy", T.DoubleType()),
])


def image_features(df: DataFrame, bytes_col: str = "bytes",
                   fmt_col: str = "fmt", keep_cols: tuple = ("image_id",),
                   use_fake: bool = False) -> DataFrame:
    """Decode → basic feature extraction per image (mean/std/min/max + a
    gradient-energy proxy). Engine-format rows decode via codec;
    PNG/JPEG/BMP/PNM payloads decode for real through the from-scratch
    codecs (formats.decode_image_any); unrecognized payloads NaN-fill
    their features (rows stay joinable) unless ``use_fake`` substitutes
    the deterministic fake decoder."""
    out_schema = T.StructType([df.schema[c] for c in keep_cols]
                              + list(FEATURE_SCHEMA))

    def run(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                buf = bytes(pdf[bytes_col].iloc[i])
                fmt = pdf[fmt_col].iloc[i] if fmt_col in pdf else "raw"
                try:
                    if fmt in codec.FMT_CODES:
                        px = codec.decode(buf).astype(np.float64)
                    elif formats.sniff(buf) in formats.IMAGE_KINDS:
                        px = formats.decode_image_any(buf).astype(np.float64)
                    elif use_fake:
                        px = fake_decode(buf).astype(np.float64)
                    else:
                        px = None
                except Exception:
                    # sniffable magic but corrupt body (truncated IDAT,
                    # bad entropy stream): the documented contract is
                    # rows stay joinable — NaN-fill, never kill the task
                    px = None
                if px is None:
                    feats = dict.fromkeys(
                        ("px_mean", "px_std", "px_min", "px_max", "edge_energy"),
                        float("nan"))
                else:
                    gy = np.abs(np.diff(px, axis=1)).mean() if px.shape[1] > 1 else 0.0
                    gx = np.abs(np.diff(px, axis=2)).mean() if px.shape[2] > 1 else 0.0
                    feats = {"px_mean": float(px.mean()), "px_std": float(px.std()),
                             "px_min": float(px.min()), "px_max": float(px.max()),
                             "edge_energy": float(gx + gy)}
                rows.append({**{c: pdf[c].iloc[i] for c in keep_cols}, **feats})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return df.mapInPandas(run, schema=out_schema)


def decode_metrics(df: DataFrame, bytes_col: str = "bytes",
                   keep_cols: tuple = ("image_id",),
                   on_error: str = "raise") -> DataFrame:
    """Decode any interchange payload (PNG/JPEG/BMP/PNM/engine container,
    magic-sniffed) and emit exact integer shape + pixel-sum metrics —
    the contract-query surface for the from-scratch decoders. One
    mapInPandas pass; payload bytes cross the Arrow boundary exactly once
    and never shuffle.

    ``on_error='quarantine'``: a corrupt payload at crawl scale is a
    certainty and must not kill the task — bad rows come back with
    ``ok=false`` and sentinel metrics (-1), stay joinable/countable, and
    the caller routes them to a quarantine sink. ``'raise'`` (default)
    keeps fail-fast semantics for curated tables."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError("on_error must be 'raise' or 'quarantine'")
    quarantine = on_error == "quarantine"
    fields = [df.schema[c] for c in keep_cols] + [
        T.StructField("bands", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
    ]
    if quarantine:
        fields.append(T.StructField("ok", T.BooleanType()))
    out_schema = T.StructType(fields)
    cols = [f.name for f in out_schema]

    def run(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                keep = {c: pdf[c].iloc[i] for c in keep_cols}
                try:
                    px = decode_external_image(bytes(pdf[bytes_col].iloc[i]))
                    m = {"bands": px.shape[0], "h": px.shape[1],
                         "w": px.shape[2],
                         "px_sum": int(px.astype(np.int64).sum())}
                    if quarantine:
                        m["ok"] = True
                except Exception:
                    if not quarantine:
                        raise
                    m = {"bands": -1, "h": -1, "w": -1, "px_sum": -1,
                         "ok": False}
                rows.append({**keep, **m})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=out_schema)


def image_catalog(df: DataFrame, bytes_col: str = "bytes",
                  keep_cols: tuple = ("image_id",)) -> DataFrame:
    """Catalog crawl over interchange-format payloads: header-only metadata
    (formats.peek_image_any — PNG IDAT never inflated, JPEG entropy never
    decoded), the S7 analog for a crawl dump. Orders of magnitude cheaper
    than decode; pair with a groupBy rollup for corpus inventory."""
    out_schema = T.StructType([df.schema[c] for c in keep_cols] + [
        T.StructField("fmt", T.StringType()),
        T.StructField("bands", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("nbytes", T.LongType()),
    ])
    cols = [f.name for f in out_schema]

    def run(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                m = formats.peek_image_any(bytes(pdf[bytes_col].iloc[i]))
                rows.append({**{c: pdf[c].iloc[i] for c in keep_cols},
                             "fmt": m["fmt"], "bands": m["bands"],
                             "h": m["h"], "w": m["w"], "nbytes": m["nbytes"]})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=out_schema)


def resize_tiles(df: DataFrame, out_h: int, out_w: int,
                 bytes_col: str = "bytes", fmt_out: str = "zlib") -> DataFrame:
    """Box-resample every tile to (out_h, out_w) as f4 — the resize step of
    a multimodal ingest pipeline, NumPy bin-mean (reduceat), no PIL."""
    def fn(px, meta):
        px = px.astype(np.float64)
        h, w = px.shape[1:]
        # UPSCALED axes use nearest-gather: reduceat bin edges repeat when
        # out > in, and the zero-width bins divide by zero — every
        # upscaled tile came back inf/NaN before
        if out_h > h:
            rows_s = px[:, (np.arange(out_h) * h) // out_h, :]
            rc = np.ones((1, out_h, 1))
        else:
            ri = (np.arange(out_h) * h) // out_h
            rows_s = np.add.reduceat(px, ri, axis=1)
            rc = np.diff(np.append(ri, h)).astype(np.float64)[None, :, None]
        if out_w > w:
            small = rows_s[:, :, (np.arange(out_w) * w) // out_w]
            cc = np.ones((1, 1, out_w))
        else:
            ci = (np.arange(out_w) * w) // out_w
            small = np.add.reduceat(rows_s, ci, axis=2)
            cc = np.diff(np.append(ci, w)).astype(np.float64)[None, None, :]
        return (small / (rc * cc)).astype(np.float32)

    return apply_chain(df, [TileOp("resize", fn, dtype_out="f4")], fmt_out=fmt_out,
                       bytes_col=bytes_col)


def frame_sample(df: DataFrame, every_n: int) -> DataFrame:
    """Frame-sampling plumbing for video-like stacks: treat bands as frames,
    keep every n-th (zlib tiles)."""
    return apply_chain(df, [TileOp("frame_sample", lambda px, meta: px[::every_n])])


def video_decode_metrics(df: DataFrame, bytes_col: str = "bytes",
                         keep_cols: tuple = ("video_id",),
                         every_n: int = 1,
                         on_error: str = "quarantine") -> DataFrame:
    """Video-container ingest: demux ISO-BMFF (MP4) payloads through the
    from-scratch box parser (formats.demux_mp4 — samples located via
    stsc/stsz/stco, never by scanning mdat), decode every ``every_n``-th
    sample when the track is image-coded (motion-JPEG 'jpeg'/'mjpa' or
    'png '), and emit exact frame/pixel metrics. Tracks coded with codecs
    this environment cannot decode (avc1/hvc1 …) keep their demuxed
    metadata with ok=false — the same quarantine contract the image path
    applies to arithmetic-coded JPEG — but are ENRICHED from the track's
    avcC/hvcC parameter sets when present: h/w come from the SPS (the
    authoritative coded dims, not the advisory stsd values) and
    profile_idc/level_idc identify the bitstream profile, so quarantined
    crawl rows still catalog usefully. One mapInPandas pass; payload
    bytes cross Arrow exactly once."""
    from . import formats

    if on_error not in ("raise", "quarantine"):
        raise ValueError("on_error must be 'raise' or 'quarantine'")
    if every_n < 1:
        # a configuration error, not a data error — per-row quarantine
        # would silently mark every video bad instead of surfacing it
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    quarantine = on_error == "quarantine"
    out_schema = T.StructType([df.schema[c] for c in keep_cols] + [
        T.StructField("codec", T.StringType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_decoded", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("profile_idc", T.IntegerType()),
        T.StructField("level_idc", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
    ])
    cols = [f.name for f in out_schema]
    decodable = ("jpeg", "mjpa", "png")

    def run(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                keep = {c: pdf[c].iloc[i] for c in keep_cols}
                try:
                    raw = bytes(pdf[bytes_col].iloc[i])
                    t = formats._demux_tables(raw)
                    tag = t["codec"]
                    samples = formats.samples_from_tables(raw, t)
                    m = {"codec": tag, "n_frames": len(samples),
                         "n_decoded": 0,
                         "h": t["codec_h"] if t["codec_h"] is not None else -1,
                         "w": t["codec_w"] if t["codec_w"] is not None else -1,
                         "px_sum": -1,
                         "profile_idc": (t["profile_idc"]
                                         if t["profile_idc"] is not None else -1),
                         "level_idc": (t["level_idc"]
                                       if t["level_idc"] is not None else -1),
                         "ok": False}
                    if tag.strip() in decodable:
                        # frame-decode failures must NOT discard the
                        # already-resolved demux metadata — the row
                        # quarantines WITH its codec/frame-count/dims
                        # enrichment (that is the catalog contract)
                        try:
                            total, nd, hh, ww = 0, 0, -1, -1
                            for s in samples[::every_n]:
                                px = formats.decode_image_any(s)
                                total += int(px.astype(np.int64).sum())
                                hh, ww = int(px.shape[1]), int(px.shape[2])
                                nd += 1
                            m.update({"n_decoded": nd, "h": hh, "w": ww,
                                      "px_sum": total, "ok": True})
                        except Exception:
                            if not quarantine:
                                raise
                except Exception:
                    if not quarantine:
                        raise
                    m = {"codec": "", "n_frames": -1, "n_decoded": -1,
                         "h": -1, "w": -1, "px_sum": -1,
                         "profile_idc": -1, "level_idc": -1, "ok": False}
                rows.append({**keep, **m})
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=out_schema)


def patchify_tiles(df: DataFrame, patch_h: int, patch_w: int,
                   bytes_col: str = "bytes",
                   fmt_out: str = "zlib") -> DataFrame:
    """ViT-style patch extraction: split every decoded tile into its
    non-overlapping (patch_h × patch_w) grid and emit ONE ROW PER PATCH
    with the patch position (``pr``, ``pc``), its transformer sequence
    index (``seq = pr·n_cols + pc`` — the position-embedding index), the
    re-encoded patch payload, and two float64 checksums computed in the
    same kernel pass:

    - ``psum``  = Σ v                      (patch content), and
    - ``pchk``  = Σ v[k]·(k+1)             over the row-major, band-major
      flattened patch — the quantity a vision model actually consumes is
      the FLATTENED vector, so the contract pins the exact flatten order
      (band, then row, then column), not just patch membership.

    Dims not divisible by the patch size raise: patchify is configured
    against a normalized corpus (``resize_tiles`` is the normalizer), so
    a non-divisible tile is a pipeline configuration error to surface
    loudly, not a data row to quarantine.

    Scale: one fused mapInPandas (decode → reshape-split → encode),
    map-only — the fan-out is bounded by (h/patch_h)·(w/patch_w) per
    tile and runs inline with the scan; payload bytes cross Arrow exactly
    once and output rows carry only patch-sized payloads. Plays the role
    of the reference's per-block pixel iteration (e.g.
    /root/reference/functions/BlockStatistics.py pixelBlocks slicing) for
    embedding-model input prep."""
    if patch_h < 1 or patch_w < 1:
        raise ValueError("patch dims must be >= 1")
    keep = [c for c in df.columns if c not in (bytes_col, *TILE_COLS)]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField("pr", T.IntegerType()),
           T.StructField("pc", T.IntegerType()),
           T.StructField("seq", T.IntegerType())]
        + TILE_FIELDS
        + [T.StructField("psum", T.DoubleType()),
           T.StructField("pchk", T.DoubleType())])
    tiles = chained_tiles([], keep, bytes_col)

    def run(batches):
        for pdf in batches:
            out_rows = []
            for px, base in tiles(pdf):
                bands, h, w = px.shape
                if h % patch_h or w % patch_w:
                    raise ValueError(
                        f"tile {h}x{w} not divisible by patch "
                        f"{patch_h}x{patch_w} (resize first)")
                n_pr, n_pc = h // patch_h, w // patch_w
                # (bands, h, w) → (n_pr, n_pc, bands, patch_h, patch_w)
                grid = (px.reshape(bands, n_pr, patch_h, n_pc, patch_w)
                        .transpose(1, 3, 0, 2, 4))
                flat = grid.reshape(n_pr * n_pc, -1).astype(np.float64)
                wgt = np.arange(1, flat.shape[1] + 1, dtype=np.float64)
                psum = flat.sum(axis=1)
                pchk = flat @ wgt
                for p in range(n_pr * n_pc):
                    pr, pc = divmod(p, n_pc)
                    out_rows.append({**base, "pr": pr, "pc": pc, "seq": p,
                                     **tile_row(grid[pr, pc], fmt_out),
                                     "psum": float(psum[p]),
                                     "pchk": float(pchk[p])})
            yield pd.DataFrame(out_rows,
                               columns=[f.name for f in out_schema])

    return df.mapInPandas(run, schema=out_schema)


def augment_tiles(df: DataFrame, crop_h: int, crop_w: int,
                  bytes_col: str = "bytes", seed: int = 7,
                  id_cols: tuple[str, str] = ("tx", "ty"),
                  fmt_out: str = "zlib") -> DataFrame:
    """Deterministic per-image augmentation for vision training pipelines:
    seeded random crop to (crop_h, crop_w) plus horizontal/vertical flip,
    all decisions derived from ONE md5-u60 draw over the image identity —
    the same draw is computable in DuckDB, so the oracle re-derives every
    output pixel (no RNG to disagree on), and re-running the pipeline on
    a grown corpus reproduces old augmentations exactly. Decision layout
    (exact integer ops, replayable):

      u      = u60(id, seed)
      hflip  = u % 2,  vflip = (u // 2) % 2
      oy     = (u // 4) % (h − crop_h + 1)
      ox     = (u // 4096) % (w − crop_w + 1)
      out[r, c] = px[oy + (vflip ? crop_h−1−r : r),
                     ox + (hflip ? crop_w−1−c : c)]

    One fused mapInPandas (decode → crop/flip → encode), map-only."""
    from .sampling import u60_col
    keep = [c for c in df.columns if c not in (bytes_col, *TILE_COLS)]
    out_schema = T.StructType(
        [df.schema[c] for c in keep] + TILE_FIELDS
        + [T.StructField("hflip", T.BooleanType()),
           T.StructField("vflip", T.BooleanType()),
           T.StructField("oy", T.IntegerType()),
           T.StructField("ox", T.IntegerType())])
    key = F.concat_ws(",", *[F.col(c).cast("string") for c in id_cols])
    work = df.withColumn("_aug_u", u60_col(key, seed))
    tiles = chained_tiles([], ["_aug_u"], bytes_col)

    def run(batches):
        for pdf in batches:
            rows, hfs, vfs, oys, oxs = [], [], [], [], []
            for px, meta in tiles(pdf):
                bands, h, w = px.shape
                if crop_h > h or crop_w > w:
                    raise ValueError(
                        f"crop {crop_h}x{crop_w} exceeds tile {h}x{w}")
                u = int(meta["_aug_u"])
                hf, vf = bool(u % 2), bool((u // 2) % 2)
                oy = (u // 4) % (h - crop_h + 1)
                ox = (u // 4096) % (w - crop_w + 1)
                out = px[:, oy:oy + crop_h, ox:ox + crop_w]
                if vf:
                    out = out[:, ::-1, :]
                if hf:
                    out = out[:, :, ::-1]
                rows.append(tile_row(out.astype(np.float32), fmt_out))
                hfs.append(hf); vfs.append(vf); oys.append(oy); oxs.append(ox)
            yield pdf[keep].assign(**tile_columns(rows), hflip=hfs, vflip=vfs,
                                   oy=np.int32(oys), ox=np.int32(oxs))

    return work.mapInPandas(run, schema=out_schema)


def export_shards(df, capacity_bytes: int, seed: int = 0x5A4D,
                  n_buckets: int = 2, id_col: str = "image_id",
                  bytes_col: str = "bytes", fmt_col: str = "fmt",
                  caption_col: str = "caption"):
    """WebDataset-style training-shard export: pack (image, caption)
    samples into ~``capacity_bytes`` tar shards and BUILD the archives —
    each sample becomes the conventional member pair ``<id>.<fmt>`` +
    ``<id>.txt`` in a from-scratch deterministic ustar
    (:func:`raster_functions_spark.formats.tar_archive`), so re-runs
    produce byte-identical shards at any parallelism.

    Scale shape: shard membership is the seeded
    :func:`~raster_functions_spark.sampling.pack_sequences` assignment
    (hash-salted into ``n_buckets`` independent packing streams — no
    global window), then ONE (bucket, bin) shuffle moves each image's
    bytes exactly once into its shard's group
    (:func:`~raster_functions_spark.operators.stack.grouped_sorted_map`).
    Returns one row per shard:
    the manifest (n_items, payload_bytes, names_md5 — order-pinning) +
    the tar payload and its md5."""
    import hashlib
    from .sampling import pack_sequences

    weight = F.length(F.col(bytes_col)) + F.octet_length(F.col(caption_col))
    base = (df.select(id_col, bytes_col, fmt_col, caption_col)
            .withColumn("_w", weight))
    assigned = pack_sequences(base, "_w", capacity_bytes, id_col, seed,
                              n_buckets)

    schema = T.StructType.fromDDL(
        "pack_bucket int, pack_bin long, n_items long, payload_bytes long, "
        "names_md5 string, tar_bytes binary, tar_md5 string")

    def build(key, pdf):
        pdf = pdf.sort_values(["pack_offset", id_col])
        members, names, payload = [], [], 0
        cols = (pdf[id_col].to_numpy(), pdf[bytes_col].to_numpy(),
                pdf[fmt_col].to_numpy(), pdf[caption_col].to_numpy())
        for iid, payload_bytes, fmt, caption in zip(*cols):
            img_name = f"{iid}.{fmt}"
            txt_name = f"{iid}.txt"
            cap = str(caption).encode("utf-8")
            members += [(img_name, bytes(payload_bytes)), (txt_name, cap)]
            names.append(f"{img_name},{txt_name};")
            payload += len(payload_bytes) + len(cap)
        tar = formats.tar_archive(members)
        return {"pack_bucket": int(key[0]), "pack_bin": int(key[1]),
                "n_items": len(pdf), "payload_bytes": payload,
                "names_md5": hashlib.md5("".join(names).encode()).hexdigest(),
                "tar_bytes": tar, "tar_md5": hashlib.md5(tar).hexdigest()}

    return grouped_sorted_map(assigned, ["pack_bucket", "pack_bin"], build, schema)
