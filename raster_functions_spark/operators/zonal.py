"""Per-pixel zonal operators — the raster side of SURVEY.md §2.3 J1/J2.

The column-level variants live in spatial.py (joins on scalar zone keys);
these operate INSIDE tiles where one band carries the per-pixel zone id —
the reference's "zone raster" mode (deprecated/ZonalRemap.py:166-183).
The zone table is broadcast once per executor (SURVEY.md O15), the probe
is vectorized per zone present in the tile (np.unique pushdown mirrors
ZonalRemap.py:171-173's id-list semi-join pushdown).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..raster import TileOp, chained_tiles


def _zones_payload(zones_pdf: pd.DataFrame, attrs: list[str] | None = None) -> dict:
    return {
        "zone_id": zones_pdf["zone_id"].to_numpy(np.int64),
        "zmin": zones_pdf["zmin"].to_numpy(np.float64) if "zmin" in zones_pdf else None,
        "zmax": zones_pdf["zmax"].to_numpy(np.float64) if "zmax" in zones_pdf else None,
        "zval": zones_pdf["zval"].to_numpy(np.float64) if "zval" in zones_pdf else None,
        "attrs": {a: zones_pdf[a].to_numpy(np.float64) for a in (attrs or [])},
    }


def zonal_remap(zones_pdf: pd.DataFrame, value_band: int = 0,
                zone_band: int = 1, default: float = 255.0,
                background: float | None = None) -> TileOp:
    """Per-pixel ZonalRemap: for each pixel, if its zone has an interval
    [zmin, zmax] containing the value, output zval — null zmin/zmax are
    open ends, null zval → ``default``.

    Non-matching pixels: the reference initializes the output raster to a
    *background* color, so unmatched pixels become background
    (deprecated/ZonalRemap.py:180-181, default 0) — pass ``background``
    (e.g. 0.0) for that behavior. ``background=None`` (default) instead
    passes the input value through, a deliberate divergence that keeps the
    operator composable in value-preserving chains (and is what the
    contract queries' oracles assert).

    Overlapping intervals: the reference iterates a zone's whole interval
    list in TABLE ORDER and assigns every match (ZonalRemap.py:185-198
    ``p[I] = ...`` per interval) — so the LAST matching interval wins.
    Both engine paths implement exactly that (spatial.zonal_remap_col
    carries an explicit table-order ordinal so its array probe agrees)."""
    z = _zones_payload(zones_pdf)
    zid = z["zone_id"]

    def fn(px, meta):
        v = px[value_band].astype(np.float64)
        zb = px[zone_band].astype(np.int64)
        out = v.copy() if background is None else np.full_like(v, background)
        present = set(np.unique(zb).tolist())  # id-list pushdown: zones in tile
        # iterate intervals in TABLE ORDER; each match overwrites prior
        # matches ⇒ last-match-wins, bit-for-bit the reference's loop
        for r in range(zid.size):
            zkey = zid[r]
            if zkey not in present:
                continue
            lo = z["zmin"][r] if z["zmin"] is not None else np.nan
            hi = z["zmax"][r] if z["zmax"] is not None else np.nan
            val = z["zval"][r] if z["zval"] is not None else np.nan
            lo = -np.inf if np.isnan(lo) else lo
            hi = np.inf if np.isnan(hi) else hi
            val = default if np.isnan(val) else val
            sel = (zb == zkey) & (v > lo) & (v < hi)
            out[sel] = val
        return out.astype(np.float32)

    return TileOp("zonal_remap", fn, bands_out=1, dtype_out="f4")


def rasterize_attributes(zones_pdf: pd.DataFrame, attrs: list[str],
                         zone_band: int = 0, fill: float = 0.0) -> TileOp:
    """Per-pixel RasterizeAttributes: M output bands, band m = attrs[m] of
    each pixel's zone (vector→raster burn). Behavior of
    deprecated/RasterizeAttributes.py:135-169, as one LUT gather per band."""
    z = _zones_payload(zones_pdf, attrs)
    zid = z["zone_id"]
    max_id = int(zid.max())
    luts = []
    for a in attrs:
        lut = np.full(max_id + 2, fill, dtype=np.float64)
        lut[zid] = z["attrs"][a]
        luts.append(lut)

    def fn(px, meta):
        zb = np.clip(px[zone_band].astype(np.int64), 0, max_id + 1)
        return np.stack([lut[zb] for lut in luts]).astype(np.float32)

    return TileOp("rasterize_attributes", fn, bands_out=len(attrs), dtype_out="f4")


def zone_band_from_cells(res: int = 12, n_zones: int = 20) -> TileOp:
    """Synthesize a per-pixel zone band from pixel cell ids (FIXTURES.md §3
    convention: zone = cell_id % Z + 1) — used to exercise the zone-raster
    path without external zone rasters. Needs meta xmin/ymax + cell_dx/dy."""
    from .. import grid

    def fn(px, meta):
        h, w = px.shape[1], px.shape[2]
        dx = float(meta.get("cell_dx", 0.001))
        dy = float(meta.get("cell_dy", 0.001))
        lon = float(meta["xmin"]) + (np.arange(w) + 0.5) * dx
        lat = float(meta["ymax"]) - (np.arange(h) + 0.5) * dy
        glon, glat = np.meshgrid(lon, lat)
        cells = grid.encode_np(glon.ravel(), glat.ravel(), res).reshape(h, w)
        # zone from the morton bits — the low RES_BITS are the resolution
        # tag (constant), so cell % n would collapse to one zone
        zone = ((cells >> grid.RES_BITS) % n_zones + 1).astype(np.float64)
        return np.concatenate([px.astype(np.float64), zone[None]], axis=0).astype(np.float32)

    return TileOp("zone_band", fn, dtype_out="f4")


def keyed_reduce(keys: np.ndarray, values: np.ndarray, ufuncs=(np.add,)):
    """The one keyed per-pixel partial reduce: stable argsort of ``keys``,
    one run per distinct key, each ``ufunc.reduceat`` over the runs.
    Returns ``(unique_keys, counts, [reduced per ufunc])``."""
    order = np.argsort(keys, kind="stable")
    k_s, v_s = keys[order], values[order]
    uk, starts = np.unique(k_s, return_index=True)
    counts = np.append(starts[1:], k_s.size) - starts
    return uk, counts, [u.reduceat(v_s, starts) for u in ufuncs]


def zonal_statistics_px(df: DataFrame, zones_per_pixel: TileOp | None,
                        value_band: int = 0, zone_band: int = 1,
                        meta_cols: tuple = ()) -> DataFrame:
    """Per-pixel zonal statistics: each tile emits (zone, sum, count, min,
    max) partials from its pixels; Catalyst finishes the aggregation —
    a two-phase plan where the Python side only does the map-side combine.
    ``zones_per_pixel`` (optional) synthesizes/attaches the zone band
    first, fused into the same decode pass (raster.chained_tiles): one
    Python pass, no re-encode."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    tiles = chained_tiles([] if zones_per_pixel is None else [zones_per_pixel],
                          meta_cols)
    out_schema = T.StructType([
        T.StructField("zone", T.LongType()),
        T.StructField("psum", T.DoubleType()), T.StructField("pn", T.LongType()),
        T.StructField("pmin", T.DoubleType()), T.StructField("pmax", T.DoubleType()),
    ])

    def run(batches):
        for pdf in batches:
            zs, sums, ns, mins, maxs = [], [], [], [], []
            for px, _ in tiles(pdf):
                uz, n, (sm, mn, mx) = keyed_reduce(
                    px[zone_band].astype(np.int64).ravel(),
                    px[value_band].astype(np.float64).ravel(),
                    (np.add, np.minimum, np.maximum))
                zs.extend(uz.tolist())
                sums.extend(sm.tolist())
                ns.extend(n.tolist())
                mins.extend(mn.tolist())
                maxs.extend(mx.tolist())
            yield pd.DataFrame({"zone": zs, "psum": sums, "pn": ns,
                                "pmin": mins, "pmax": maxs})

    partials = df.select("bytes", *meta_cols).mapInPandas(run, schema=out_schema)
    return (partials.groupBy("zone")
            .agg(F.sum("psum").alias("sum"), F.sum("pn").alias("n"),
                 (F.sum("psum") / F.sum("pn")).alias("mean"),
                 F.min("pmin").alias("min"), F.max("pmax").alias("max"))
            .orderBy("zone"))
