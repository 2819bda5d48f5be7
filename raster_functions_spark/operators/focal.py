"""Focal / neighborhood operators + distributed halo exchange — SURVEY.md §2.5.

The reference gets edge-correct focal results by asking the host for padded
pixel blocks (``getConfiguration()['padding']``,
/root/reference/functions/Reference.py:100) and cropping after compute
(/root/reference/functions/deprecated/Hillshade.py:82-94). In a distributed
tile table there is no host to pad for us, so the engine performs a **halo
exchange**: every tile ships only the boundary strips its neighbors need
(p rows/columns, p = op.padding), a single shuffle keyed by target tile
re-assembles padded arrays, the kernel runs, and the pad is cropped.

Shuffle volume is tile_bytes × (1 + ~4p/tile_size) — at p=1, ~6% overhead
over the unavoidable one pass; this is the design that survives 100 TB
(an 8-way self-join would read the table 8×).

All kernels are whole-array NumPy (no scipy available, none needed).

Output tiles follow the tile-row contract in :mod:`raster` (``TILE_FIELDS``
filled by ``tile_row``).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from numpy.lib.stride_tricks import sliding_window_view
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import codec
from ..raster import TILE_FIELDS, TileOp, chained_tiles, tile_row

# ------------------------------------------------------------ kernels ------
# All kernel fns take an already-padded (bands, h+2p, w+2p) array and return
# (bands_out, h, w) — cropping is part of the kernel contract, exactly like
# the reference's updatePixels (Hillshade.py:89 crops [1:-1, 1:-1]).


def _horn_gradients(z: np.ndarray, cellsize: float, cellsize_y: float | None = None):
    """Horn 3×3 gradients on a 1-pad 2-D array → (dz/dx, dz/dy) cropped.

    Same stencil the reference uses for slope/aspect/hillshade
    (/root/reference/functions/deprecated/Hillshade.py:115-116,
    deprecated/AspectSlope.py:80-81), written as shifted sums.
    ``cellsize_y`` allows anisotropic spacing (geographic-CRS dx shrinks
    with latitude)."""
    cy = cellsize if cellsize_y is None else cellsize_y
    a = z[:-2, :-2]; b = z[:-2, 1:-1]; c = z[:-2, 2:]
    d = z[1:-1, :-2];                  f = z[1:-1, 2:]
    g = z[2:, :-2];  h8 = z[2:, 1:-1]; i = z[2:, 2:]
    dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * cellsize)
    dzdy = ((g + 2 * h8 + i) - (a + 2 * b + c)) / (8.0 * cy)
    return dzdx, dzdy


DEG_TO_M = 1.11e5  # the reference's degrees→meters factor (Hillshade.py:126)


def effective_cellsize(cs_deg: float, meta: dict | None = None,
                       geographic: bool = False, lat_correct: bool = False,
                       h: int | None = None) -> tuple[float, float]:
    """(dx, dy) in the unit the z values use. For geographic-CRS DEMs the
    reference converts degrees→meters with a constant 1.11e5 factor before
    the gradient division (deprecated/Hillshade.py:124-127,
    utils.py:54-83 projectCellSize); without it, slopes on a degree-grid
    DEM with meter elevations are wrong by ~1e5×. ``lat_correct``
    additionally shrinks dx by cos(latitude of the tile center) — more
    accurate than the reference's isotropic constant; requires meta
    ``ymax`` (+ ``cell_dy``) and the tile height."""
    if not geographic:
        return cs_deg, cs_deg
    dy_m = cs_deg * DEG_TO_M
    dx_m = dy_m
    if lat_correct:
        # requested correction must not silently degrade to none: without
        # ymax in the tile meta (apply_focal meta_cols), dx would quietly
        # equal dy and high-latitude slopes would be wrong with no signal
        if meta is None or "ymax" not in meta or not h:
            raise ValueError(
                "lat_correct=True needs the tile's ymax in meta — pass "
                'meta_cols=("cell_dx", "ymax") (plus cell_dy if spacing '
                "is anisotropic) to apply_focal")
        dy_deg = float(meta.get("cell_dy", cs_deg))
        lat_c = float(meta["ymax"]) - 0.5 * h * dy_deg
        dx_m = dy_m * float(np.cos(np.radians(lat_c)))
    return dx_m, dy_m


def slope_aspect_np(z_padded: np.ndarray, cellsize: float = 1.0, z_factor: float = 1.0,
                    cellsize_y: float | None = None):
    """(slope_deg, aspect_deg) from a 1-padded 2-D float array.
    Aspect in compass degrees (0=N, clockwise), flat = -1."""
    dzdx, dzdy = _horn_gradients(z_padded.astype(np.float64), cellsize, cellsize_y)
    slope = np.degrees(np.arctan(z_factor * np.hypot(dzdx, dzdy)))
    aspect = np.degrees(np.arctan2(dzdy, -dzdx))  # math angle from east
    aspect = np.where(aspect < 90.0, 90.0 - aspect, 450.0 - aspect)  # → compass
    flat = (dzdx == 0) & (dzdy == 0)
    return slope, np.where(flat, -1.0, aspect % 360.0)


def hillshade_np(z_padded: np.ndarray, cellsize: float = 1.0, z_factor: float = 1.0,
                 azimuth: float = 315.0, altitude: float = 45.0,
                 cellsize_y: float | None = None) -> np.ndarray:
    """Classic single-source hillshade (uint8 0..255) — behavior of
    /root/reference/functions/deprecated/Hillshade.py:108-133."""
    dzdx, dzdy = _horn_gradients(z_padded.astype(np.float64), cellsize, cellsize_y)
    zen = np.radians(90.0 - altitude)
    azm = np.radians((360.0 - azimuth + 90.0) % 360.0)
    slope = np.arctan(z_factor * np.hypot(dzdx, dzdy))
    aspect = np.arctan2(dzdy, -dzdx)
    shade = (np.cos(zen) * np.cos(slope)
             + np.sin(zen) * np.sin(slope) * np.cos(azm - aspect))
    return np.clip(255.0 * shade, 0, 255).astype(np.uint8)


def multidirectional_hillshade_np(z_padded: np.ndarray, cellsize: float = 1.0,
                                  z_factor: float = 1.0) -> np.ndarray:
    """Weighted 6-azimuth hillshade — MultidirectionalHillshade template
    (SURVEY.md W7): sum of W1 at 6 azimuths with USGS-style weights."""
    azs = (225.0, 270.0, 315.0, 360.0, 45.0, 90.0)
    wts = (0.1, 0.2, 0.25, 0.2, 0.15, 0.1)
    acc = np.zeros(np.asarray(z_padded.shape) - 2, dtype=np.float64)
    for az, wt in zip(azs, wts):
        acc += wt * hillshade_np(z_padded, cellsize, z_factor, azimuth=az).astype(np.float64)
    return np.clip(acc, 0, 255).astype(np.uint8)


# AspectSlope classification: 2-digit code (slope class tens digit via
# aspect class) — same class edges as deprecated/AspectSlope.py:96-114.
_SLOPE_EDGES = (5.0, 20.0)          # gentle / moderate / steep
_ASPECT_EDGES = (22.5, 67.5, 112.5, 157.5, 202.5, 247.5, 292.5, 337.5)


def aspect_slope_class_np(z_padded: np.ndarray, cellsize: float = 1.0,
                          z_factor: float = 1.0) -> np.ndarray:
    slope, aspect = slope_aspect_np(z_padded, cellsize, z_factor)
    s_cls = np.digitize(slope, _SLOPE_EDGES) + 1            # 1..3
    a_cls = np.digitize(aspect % 360.0, _ASPECT_EDGES) % 8  # 0..7 (N..NW)
    code = np.where(slope < 1.0, 10, (s_cls + 1) * 10 + a_cls + 1)
    return code.astype(np.uint8)


def rank_filter_np(band: np.ndarray, measure: str, size: int) -> np.ndarray:
    """Sliding-window order statistics on a p-padded 2-D array (p=size//2) —
    RankFilter measures (/root/reference/functions/RankFilter.py:80-107),
    via stride tricks instead of scikit-image."""
    win = sliding_window_view(band, (size, size))
    flat = win.reshape(*win.shape[:2], -1)
    if measure == "min":
        return flat.min(axis=-1)
    if measure == "max":
        return flat.max(axis=-1)
    if measure == "mean":
        return flat.mean(axis=-1)
    if measure == "median":
        return np.median(flat, axis=-1)
    if measure == "sum":
        return flat.sum(axis=-1)
    if measure == "range":
        return flat.max(axis=-1) - flat.min(axis=-1)
    if measure == "threshold":  # local-mean binarization (RankFilter 'threshold')
        return (band[size // 2:-(size // 2) or None, size // 2:-(size // 2) or None]
                > flat.mean(axis=-1)).astype(band.dtype)
    raise ValueError(f"unknown rank measure {measure}")


def block_statistics_np(band: np.ndarray, measure: str, factor: int) -> np.ndarray:
    """Tumbling non-overlapping n×n block reduce (downsamples by factor) —
    BlockStatistics (/root/reference/functions/BlockStatistics.py:75-105).
    No halo needed (tumbling, not sliding)."""
    h, w = band.shape
    ph, pw = (-h) % factor, (-w) % factor
    if ph or pw:
        band = np.pad(band, ((0, ph), (0, pw)), mode="edge")
    blocks = (band.reshape(band.shape[0] // factor, factor,
                           band.shape[1] // factor, factor)
              .transpose(0, 2, 1, 3).reshape(band.shape[0] // factor,
                                             band.shape[1] // factor, -1))
    if measure == "nearest":
        return band[::factor, ::factor].copy()
    red = {"min": np.min, "max": np.max, "mean": np.mean,
           "median": np.median, "sum": np.sum}[measure]
    return red(blocks, axis=-1)


# -------------------------------------------------------- TileOp wrap ------

def hillshade(cellsize: float = 1.0, z_factor: float = 1.0,
              azimuth: float = 315.0, altitude: float = 45.0,
              geographic: bool = False, lat_correct: bool = False) -> TileOp:
    def fn(px, meta):
        cs = float(meta.get("cell_dx", cellsize))
        dx, dy = effective_cellsize(cs, meta, geographic, lat_correct,
                                    px.shape[1] - 2)
        return np.stack([hillshade_np(b.astype(np.float64), dx, z_factor,
                                      azimuth, altitude, cellsize_y=dy)
                         for b in px])
    return TileOp("hillshade", fn, padding=1, dtype_out="u1")


def multidirectional_hillshade(cellsize: float = 1.0, z_factor: float = 1.0) -> TileOp:
    def fn(px, meta):
        cs = float(meta.get("cell_dx", cellsize))
        return np.stack([multidirectional_hillshade_np(b.astype(np.float64), cs, z_factor)
                         for b in px])
    return TileOp("mdhillshade", fn, padding=1, dtype_out="u1")


def slope(cellsize: float = 1.0, z_factor: float = 1.0,
          geographic: bool = False, lat_correct: bool = False) -> TileOp:
    def fn(px, meta):
        cs = float(meta.get("cell_dx", cellsize))
        dx, dy = effective_cellsize(cs, meta, geographic, lat_correct,
                                    px.shape[1] - 2)
        return np.stack([slope_aspect_np(b.astype(np.float64), dx, z_factor,
                                         cellsize_y=dy)[0]
                         for b in px]).astype(np.float32)
    return TileOp("slope", fn, padding=1, dtype_out="f4")


def aspect(cellsize: float = 1.0, z_factor: float = 1.0,
           geographic: bool = False, lat_correct: bool = False) -> TileOp:
    def fn(px, meta):
        cs = float(meta.get("cell_dx", cellsize))
        dx, dy = effective_cellsize(cs, meta, geographic, lat_correct,
                                    px.shape[1] - 2)
        return np.stack([slope_aspect_np(b.astype(np.float64), dx, z_factor,
                                         cellsize_y=dy)[1]
                         for b in px]).astype(np.float32)
    return TileOp("aspect", fn, padding=1, dtype_out="f4")


def aspect_slope_class(cellsize: float = 1.0, z_factor: float = 1.0) -> TileOp:
    def fn(px, meta):
        cs = float(meta.get("cell_dx", cellsize))
        return np.stack([aspect_slope_class_np(b.astype(np.float64), cs, z_factor)
                         for b in px])
    return TileOp("aspect_slope", fn, padding=1, dtype_out="u1")


def rank_filter(measure: str, size: int = 3) -> TileOp:
    if size % 2 == 0 or size < 3:
        # even windows have no center pixel: the sliding view would emit
        # (h+1)x(w+1) tiles (and 'threshold' would crash on the shape
        # mismatch) — the reference's RankFilter neighborhoods are odd
        raise ValueError(f"rank_filter size must be odd >= 3, got {size}")
    p = size // 2
    def fn(px, meta):
        return np.stack([rank_filter_np(b.astype(np.float64), measure, size)
                         for b in px]).astype(np.float32)
    return TileOp(f"rank_{measure}", fn, padding=p, dtype_out="f4")


def focal_statistics(measure: str = "mean", size: int = 3) -> TileOp:
    """FocalStatistics template (SURVEY.md W5) — alias of rank_filter."""
    return rank_filter(measure, size)


def block_statistics(measure: str = "mean", factor: int = 2) -> TileOp:
    def fn(px, meta):
        return np.stack([block_statistics_np(b.astype(np.float64), measure, factor)
                         for b in px]).astype(np.float32)
    return TileOp(f"block_{measure}", fn, padding=0, dtype_out="f4")


def erode_mask_np(mask: np.ndarray, size: int = 3) -> np.ndarray:
    """Binary erosion of a validity mask (valid only if the whole size×size
    neighborhood is valid) — the reference erodes masks alongside focal
    kernels so edge pixels computed from NoData are invalidated
    (deprecated/Hillshade.py:90-93). Pure NumPy via the sliding min."""
    p = size // 2
    padded = np.pad(mask.astype(np.uint8), p, mode="constant", constant_values=0)
    return rank_filter_np(padded.astype(np.float64), "min", size).astype(np.uint8)


def mask_erode(size: int = 3, mask_band: int = -1) -> TileOp:
    """TileOp: erode the mask band (other bands pass through) — compose
    after a focal kernel to reproduce the reference's mask semantics.
    Mask convention: >0 valid, 0 NoData.

    Declares ``padding = size // 2`` so chains route it through the halo
    exchange: a seam pixel's neighborhood is then judged against the
    NEIGHBOR tile's real mask, not an implicit zero wall (the pre-r5 form
    zero-padded every tile, invalidating a grid of lines at every
    interior tile boundary of a multi-tile scene). At true scene borders
    the pre-extension halo validity map marks the pad NoData, matching
    the reference's border rule (scipy erosion border_value=0,
    deprecated/Hillshade.py:90-93). Applied directly to a single
    whole-raster tile (``.apply(px, {})``), the zero-pad behavior is
    unchanged — there, every border IS a raster border."""
    if size % 2 == 0 or size < 3:
        raise ValueError(f"mask_erode size must be odd >= 3, got {size}")
    p = size // 2

    def fn(px, meta):
        mb = mask_band if mask_band >= 0 else px.shape[0] - 1
        if "_halo_pad" in meta:            # running under apply_focal
            hp = meta["_halo_pad"]
            m = (px[mb] > 0)
            hv = meta.get("_halo_valid")
            if hv is not None:
                m = m & hv                 # scene-boundary pad = NoData
            if hp != p:                    # wider halo than the window:
                extra = hp - p             # trim to this op's neighborhood
                m = m[extra:-extra or None, extra:-extra or None]
                px = px[:, extra:-extra or None, extra:-extra or None]
            eroded = rank_filter_np(m.astype(np.float64), "min",
                                    size).astype(np.uint8)
            out = px[:, p:-p or None, p:-p or None].copy()
            out[mb] = eroded
            return out
        out = px.copy()
        out[mb] = erode_mask_np(px[mb] > 0, size)
        return out

    return TileOp("mask_erode", fn, padding=p)


# ------------------------------------------------------ halo exchange ------

def _halo_msg_schema(df: DataFrame, grid_cols, meta_cols) -> T.StructType:
    """Message schema for the halo shuffle — key types follow the INPUT's
    grid columns (a bigint ty or a non-string scene id must round-trip);
    the sending tile's ``meta_cols`` ride along with their input types."""
    scn, txc, tyc = grid_cols
    return T.StructType([
        T.StructField("scene_id", df.schema[scn].dataType),
        T.StructField("ttx", df.schema[txc].dataType),
        T.StructField("tty", df.schema[tyc].dataType),
        T.StructField("dx", T.IntegerType()),
        T.StructField("dy", T.IntegerType()),
        T.StructField("part", T.BinaryType()),
    ] + [df.schema[c] for c in meta_cols])


def _strip_for_target(px: np.ndarray, dx: int, dy: int, p: int) -> np.ndarray:
    """The slice of this tile that lands in the padded window of the
    neighbor at offset (dx, dy). dx=+1 → neighbor to the right needs my
    rightmost p columns, etc."""
    rs = slice(None) if dy == 0 else (slice(0, p) if dy == -1 else slice(-p, None))
    cs = slice(None) if dx == 0 else (slice(0, p) if dx == -1 else slice(-p, None))
    return px[:, rs, cs]


def apply_focal(df: DataFrame, op: TileOp, fmt_out: str = "zlib",
                meta_cols: tuple[str, ...] = ("cell_dx",),
                grid_cols: tuple[str, str, str] = ("scene_id", "tx", "ty"),
                pre: Sequence[TileOp] = (), post: Sequence[TileOp] = (),
                ops_meta_cols: tuple[str, ...] = ()) -> DataFrame:
    """Distributed edge-correct focal op over a scene-gridded tile table.

    Tiles missing a neighbor (scene boundary) get edge-replicated padding —
    matching the reference's behavior at raster borders. Output schema:
    grid cols + bytes/w/h/bands/dtype/fmt + the ``meta_cols`` present.

    Zero-padding ops next to the focal op run inside the stage, with no
    encode → decode hop: ``pre`` on each decoded tile before its strips
    are cut (the emit pass), ``post`` on the kernel's output (the assemble
    pass). Both get the meta :func:`raster.apply_chain` would give them —
    the row's ``ops_meta_cols`` values, which must be among the forwarded
    ``meta_cols`` — so the stage equals
    ``apply_chain(apply_focal(apply_chain(df, pre), op), post)`` up to
    the skipped intermediate encodes (lossless formats: byte for byte).
    """
    p = op.padding
    if p <= 0:
        raise ValueError("apply_focal requires op.padding > 0")
    if any(o.padding for o in post):
        raise ValueError("post ops must be zero-padding; run a padded op "
                         "as its own apply_focal stage")
    scn, txc, tyc = grid_cols
    meta_keep = [c for c in meta_cols if c in df.columns]
    ops_meta = list(ops_meta_cols) if pre or post else []
    missing = [c for c in ops_meta if c not in meta_keep]
    if missing:
        raise ValueError(f"ops_meta_cols {missing} must be meta_cols present in df")
    tiles = chained_tiles(pre, ops_meta)

    def emit(batches):
        for pdf in batches:
            rows = {"scene_id": [], "ttx": [], "tty": [], "dx": [], "dy": [], "part": []}
            src = []                       # sending row of each message
            sids, txs, tys = (pdf[c].to_numpy() for c in grid_cols)
            for r, (px, _) in enumerate(tiles(pdf)):
                tx, ty, sid = int(txs[r]), int(tys[r]), sids[r]
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ttx, tty = tx + dx, ty + dy
                        if ttx < 0 or tty < 0:
                            continue
                        part = px if (dx == 0 and dy == 0) else _strip_for_target(px, dx, dy, p)
                        rows["scene_id"].append(sid)
                        rows["ttx"].append(ttx); rows["tty"].append(tty)
                        rows["dx"].append(dx); rows["dy"].append(dy)
                        rows["part"].append(codec.encode(np.ascontiguousarray(part), "raw"))
                        src.append(r)
            # the tile's meta values go on its own messages; assemble
            # reads them off the center one
            src = np.asarray(src, dtype=np.intp)
            rows.update({c: pdf[c].to_numpy()[src] for c in meta_keep})
            yield pd.DataFrame(rows)

    msgs = df.select(scn, txc, tyc, "bytes", *meta_keep).mapInPandas(
        emit, schema=_halo_msg_schema(df, grid_cols, meta_keep))

    # output keys keep the CALLER's grid column names and types — the
    # pre-r5 schema hardcoded scene_id/tx/ty, breaking every grid_cols
    # parameterization (and the hydro operators that thread it through)
    out_schema = T.StructType([
        T.StructField(scn, df.schema[scn].dataType),
        T.StructField(txc, df.schema[txc].dataType),
        T.StructField(tyc, df.schema[tyc].dataType),
        *TILE_FIELDS,
    ] + ([df.schema[c] for c in meta_keep]))

    def assemble(key: tuple, pdf: pd.DataFrame) -> dict | None:
        dxs, dys = pdf["dx"].to_numpy(), pdf["dy"].to_numpy()
        parts = pdf["part"].to_numpy()
        center = np.flatnonzero((dxs == 0) & (dys == 0))
        if not len(center):
            return None
        ci = center[0]
        px = codec.decode(bytes(parts[ci]))
        bands, h, w = px.shape
        padded = np.zeros((bands, h + 2 * p, w + 2 * p), dtype=px.dtype)
        valid = np.zeros((h + 2 * p, w + 2 * p), dtype=bool)
        padded[:, p:h + p, p:w + p] = px
        valid[p:h + p, p:w + p] = True
        for dx, dy, buf in zip(dxs, dys, parts):
            if dx == 0 and dy == 0:
                continue
            # message sent by neighbor at (tx-dx, ty-dy) relative to me
            part = codec.decode(bytes(buf))
            rs = slice(p, h + p) if dy == 0 else (slice(h + p, h + 2 * p) if dy == -1 else slice(0, p))
            cs = slice(p, w + p) if dx == 0 else (slice(w + p, w + 2 * p) if dx == -1 else slice(0, p))
            padded[:, rs, cs] = part
            valid[rs, cs] = True
        # Scene-boundary pads: edge-extend vertically then horizontally.
        # This reproduces exactly clip-to-scene (mosaic-level edge pad)
        # semantics, including corners fed by a lateral neighbor's strip.
        halo_valid = valid.copy()          # pre-extension: real data only
        if not valid.all():
            for r in range(p - 1, -1, -1):               # top pad rows
                fill = ~valid[r] & valid[r + 1]
                padded[:, r, fill] = padded[:, r + 1, fill]
                valid[r] |= fill
            for r in range(h + p, h + 2 * p):            # bottom pad rows
                fill = ~valid[r] & valid[r - 1]
                padded[:, r, fill] = padded[:, r - 1, fill]
                valid[r] |= fill
            for c in range(p - 1, -1, -1):               # left pad cols
                fill = ~valid[:, c] & valid[:, c + 1]
                padded[:, fill, c] = padded[:, fill, c + 1]
                valid[fill, c] = True
            for c in range(w + p, w + 2 * p):            # right pad cols
                fill = ~valid[:, c] & valid[:, c - 1]
                padded[:, fill, c] = padded[:, fill, c - 1]
                valid[fill, c] = True
        meta = {c: pdf[c].to_numpy()[ci] for c in meta_keep}
        # ops that must distinguish REAL neighbor data from scene-boundary
        # edge-extension (mask_erode's NoData-at-border rule) get the
        # pre-extension validity map + pad width; kept out of `meta` so
        # the output row below stays schema-clean
        out = op.fn(padded, {**meta, "_halo_pad": p, "_halo_valid": halo_valid})
        ops_meta_row = {c: meta[c] for c in ops_meta}
        for o in post:
            out = o.apply(out if out.ndim == 3 else out[None], ops_meta_row)
        return {scn: key[0], txc: int(key[1]), tyc: int(key[2]),
                **tile_row(out, fmt_out), **meta}

    # ≤9 halo messages per tile, tiles unbounded — same many-tiny-groups
    # class as the pyramid merge: stream the sorted partition rather than
    # paying the per-group applyInPandas round trip (BENCH/notes_r4.md)
    from .stack import grouped_sorted_map
    return grouped_sorted_map(msgs, ["scene_id", "ttx", "tty"], assemble,
                              out_schema)
