"""Artistic block effects + hex pixel aggregation — SURVEY.md F15 / A3.

BasicCubism/BasicChuckClose (block-mean / block-classify effects,
BasicCubism.py:40-69, BasicChuckClose.py:60-100) are tumbling-block maps;
HexagonPixels (HexagonPixels.py:49-78) aggregates pixel values onto a
hexagonal grid — here vectorized via the axial-hex cube-rounding encode.
"""

from __future__ import annotations

import numpy as np

from .. import grid
from ..raster import TileOp, chained_tiles
from .focal import block_statistics_np
from .zonal import keyed_reduce


def cubism(block: int = 8, band: int | None = None) -> TileOp:
    """Block-mean mosaic effect: every n×n block painted with its mean —
    BasicCubism behavior."""
    def fn(px, meta):
        bands = px if band is None else px[band:band + 1]
        out = []
        for b in bands:
            small = block_statistics_np(b.astype(np.float64), "mean", block)
            up = np.repeat(np.repeat(small, block, axis=0), block, axis=1)
            out.append(up[:b.shape[0], :b.shape[1]])
        return np.stack(out).astype(np.float32)
    return TileOp("cubism", fn, dtype_out="f4")


def chuck_close(block: int = 8, levels: int = 4, band: int = 0) -> TileOp:
    """Block-classify effect: block means quantized to k gray levels —
    BasicChuckClose behavior."""
    def fn(px, meta):
        b = px[band].astype(np.float64)
        small = block_statistics_np(b, "mean", block)
        lo, hi = small.min(), small.max()
        q = np.floor((small - lo) / max(hi - lo, 1e-9) * (levels - 1e-9))
        val = lo + (q + 0.5) * (hi - lo) / levels
        up = np.repeat(np.repeat(val, block, axis=0), block, axis=1)
        return up[:b.shape[0], :b.shape[1]][None].astype(np.float32)
    return TileOp("chuck_close", fn, bands_out=1, dtype_out="f4")


def hex_aggregate_np(px2d: np.ndarray, meta: dict, size_deg: float):
    """Per-pixel hex binning inside one tile: (hex_id, sum, count) partials
    — the per-tile half of the HexagonPixels aggregation; Catalyst
    finishes across tiles. Needs meta xmin/ymax + cell_dx/dy."""
    h, w = px2d.shape
    dx = float(meta.get("cell_dx", 0.001))
    dy = float(meta.get("cell_dy", 0.001))
    lon = float(meta["xmin"]) + (np.arange(w) + 0.5) * dx
    lat = float(meta["ymax"]) - (np.arange(h) + 0.5) * dy
    glon, glat = np.meshgrid(lon, lat)
    hx = grid.hex_encode(glon.ravel(), glat.ravel(), size_deg)
    uh, counts, (sums,) = keyed_reduce(hx, px2d.astype(np.float64).ravel())
    return uh, sums, counts


def hexagon_pixels(df, size_deg: float = 0.01, value_band: int = 0,
                   meta_cols: tuple[str, ...] = ("xmin", "ymax", "cell_dx", "cell_dy")):
    """Distributed hex-grid mean of pixel values: per-tile partials →
    groupBy(hex_id) final — HexagonPixels (A3) at table scale."""
    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("hex_id", T.LongType()),
                           T.StructField("psum", T.DoubleType()),
                           T.StructField("pn", T.LongType())])
    cols = [c for c in meta_cols if c in df.columns]
    tiles = chained_tiles([], cols)

    def run(batches):
        for pdf in batches:
            hs, ss, ns = [], [], []
            for px, meta in tiles(pdf):
                uh, sums, counts = hex_aggregate_np(px[value_band], meta, size_deg)
                hs.extend(uh.tolist()); ss.extend(sums.tolist()); ns.extend(counts.tolist())
            yield pd.DataFrame({"hex_id": hs, "psum": ss, "pn": ns})

    partials = df.select("bytes", *cols).mapInPandas(run, schema=schema)
    return (partials.groupBy("hex_id")
            .agg((F.sum("psum") / F.sum("pn")).alias("mean"),
                 F.sum("pn").alias("n_px"))
            .orderBy("hex_id"))
