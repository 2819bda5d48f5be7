"""Multi-raster operators: aligned two-raster kernels, scene-statistics
two-pass maps, and iterative gap-fill — SURVEY.md §2.3 J4/J9, §2.4 A9.

The reference receives co-registered rasters as multiple pixelBlocks
(updatePixels(**pixelBlocks)); the Spark equivalent aligns them with an
equi-join on the tile key (the grid-alignment join J4,
:func:`raster.join_tiles`), then runs one kernel over the decoded arrays
(:func:`raster.apply_aligned`; whole-scene kernels through
:func:`raster.scene_map`). Output tiles follow the tile-row contract in
:mod:`raster`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..raster import aligned_tiles, apply_aligned, join_tiles, scene_map
from .focal import slope_aspect_np


def two_raster_op(df_a: DataFrame, df_b: DataFrame, fn, key_cols: list[str],
                  fmt_out: str = "zlib") -> DataFrame:
    """Equi-join two tile tables on the tile key and apply
    ``fn(px_a, px_b) -> px`` per aligned pair — the host's multi-raster
    alignment (J4, FindMaxPixel_Mosaic.rft.xml MatchVariable semantics)."""
    joined = join_tiles([df_a.select(*key_cols, "bytes"), df_b], key_cols)
    return apply_aligned(joined, key_cols, lambda parts, meta: fn(*parts), fmt_out)


def dnbr_fn(nir_band: int = 0, swir_band: int = 1):
    """Differenced normalized burn ratio NBR(pre) − NBR(post) — the
    two-raster operator of deprecated/DifferencedNormalizedBurnRatio.py:99-117."""
    def nbr(px):
        nir = px[nir_band].astype(np.float64)
        swir = px[swir_band].astype(np.float64)
        d = nir + swir
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(d == 0, 0.0, (nir - swir) / d)
    def fn(pa, pb):
        return (nbr(pa) - nbr(pb)).astype(np.float32)
    return fn


def mask_raster_fn(nodata: float = 0.0):
    """Apply raster B as a validity mask over raster A — MaskRaster's
    two-raster semantics (MaskRaster.py:34-40): valid where B > 0."""
    def fn(pa, pb):
        m = pb[0] > 0
        return np.where(m[None, :, :], pa, np.asarray(nodata, pa.dtype))
    return fn


# ---------------------------------------------- topographic correction -----

def topographic_c_correction(dem: DataFrame, image: DataFrame,
                             key_cols: list[str], sun_azimuth: float,
                             sun_elevation: float, cellsize: float = 1.0,
                             fmt_out: str = "zlib") -> DataFrame:
    """Two-pass C-correction (SURVEY.md A9, TopographicCCorrection.py):

    pass 1 — per-tile decomposable sums of (cos_i, value) feed a scene-wide
    regression C = intercept/slope via Catalyst ``regr_*`` aggregates;
    pass 2 — the per-pixel correction v·(cos(sz)+C)/(cos_i+C), with C
    broadcast-joined back. Exactly the aggregate-then-map shape the
    reference computes in one process (linregress at lines 139-147)."""
    sz = np.radians(90.0 - sun_elevation)
    az = np.radians(sun_azimuth)

    def cos_i_of(zpx):
        slope_deg, aspect_deg = slope_aspect_np(
            np.pad(zpx[0].astype(np.float64), 1, mode="edge"), cellsize)
        sl = np.radians(slope_deg)
        asp = np.radians(np.where(aspect_deg < 0, 0.0, aspect_deg))
        return (np.cos(sz) * np.cos(sl)
                + np.sin(sz) * np.sin(sl) * np.cos(az - asp))

    # pass 1: per-tile regression partials (decomposable sums)
    part_schema = T.StructType([dem.schema[c] for c in key_cols] + [
        T.StructField("s_x", T.DoubleType()), T.StructField("s_y", T.DoubleType()),
        T.StructField("s_xx", T.DoubleType()), T.StructField("s_xy", T.DoubleType()),
        T.StructField("n", T.LongType())])

    joined = join_tiles([dem.select(*key_cols, "bytes"), image], key_cols)
    tiles = aligned_tiles(key_cols, meta_cols=key_cols)

    def partials(batches):
        for pdf in batches:
            rows = []
            for (zpx, img), keys in tiles(pdf):
                ci = cos_i_of(zpx).ravel()
                v = img[0].astype(np.float64).ravel()
                rows.append({**keys, "s_x": ci.sum(), "s_y": v.sum(),
                             "s_xx": (ci * ci).sum(), "s_xy": (ci * v).sum(),
                             "n": ci.size})
            yield pd.DataFrame(rows, columns=[f.name for f in part_schema])

    p = joined.mapInPandas(partials, schema=part_schema)
    scene_key = key_cols[0]  # scene-level statistic
    stats = (p.groupBy(scene_key)
             .agg(F.sum("s_x").alias("sx"), F.sum("s_y").alias("sy"),
                  F.sum("s_xx").alias("sxx"), F.sum("s_xy").alias("sxy"),
                  F.sum("n").alias("nn"))
             .withColumn("slope_c", (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("nn"))
                         / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("nn")))
             .withColumn("intercept_c", F.col("sy") / F.col("nn")
                         - F.col("slope_c") * F.col("sx") / F.col("nn"))
             # degenerate regression (image uncorrelated with illumination)
             # → C blows up; null C means identity correction downstream
             .withColumn("c_factor",
                         F.when(F.abs(F.col("slope_c")) > 1e-9,
                                F.col("intercept_c") / F.col("slope_c")))
             .select(scene_key, "c_factor"))

    # pass 2: per-pixel correction with the broadcast C
    def correct(parts, meta):
        zpx, img = parts
        ci = cos_i_of(zpx)
        v = img[0].astype(np.float64)
        C = meta["c_factor"]
        if pd.isna(C):
            return v.astype(np.float32)        # identity: no terrain signal
        # self-shadowed / grazing pixels (cos_i ≈ 0 or < 0) sit on the
        # division singularity — leave uncorrected. The DENOMINATOR is
        # cos_i + C: with a negative C (brightness anti-correlated with
        # illumination) it crosses zero for LIT pixels too, so guard
        # |cos_i+C| as well — a near-zero denominator would encode ±inf
        # into the tile and poison downstream aggregates
        lit = (ci > 0.05) & (np.abs(ci + C) > 0.05)
        return np.where(lit, v * (np.cos(sz) + C) / np.where(lit, ci + C, 1.0),
                        v).astype(np.float32)

    return apply_aligned(joined.join(F.broadcast(stats), scene_key), key_cols,
                         correct, fmt_out, meta_cols=["c_factor"])


# ------------------------------------------------------ gap fill (J9) ------

def ring_fill_np(target: np.ndarray, replacement: np.ndarray,
                 mask: np.ndarray, window: int = 8,
                 max_iters: int = 64) -> np.ndarray:
    """Ring-growing radiometrically-adjusted gap fill — the capability of
    StepwiseLocalRadiometricAdjustment.py:67-234 re-implemented from
    scratch: per iteration, fill masked pixels that touch valid pixels
    using replacement values locally matched (windowed mean/std) to the
    valid neighborhood; grow inward ring by ring."""
    t = target.astype(np.float64).copy()
    r = replacement.astype(np.float64)
    invalid = mask.astype(bool).copy()

    def box_sum(a, k):
        """Sliding box sum via integral image (2k+1 window, edge-padded)."""
        n = 2 * k + 1
        p = np.pad(a, k, mode="edge")
        integ = np.zeros((p.shape[0] + 1, p.shape[1] + 1))
        integ[1:, 1:] = p.cumsum(0).cumsum(1)
        return (integ[n:, n:] - integ[:-n, n:]
                - integ[n:, :-n] + integ[:-n, :-n])

    k = window // 2
    for _ in range(max_iters):
        if not invalid.any():
            break
        # ring = invalid cells with ≥1 valid 4-neighbor
        v = ~invalid
        nb_valid = np.zeros_like(v)
        nb_valid[1:, :] |= v[:-1, :]
        nb_valid[:-1, :] |= v[1:, :]
        nb_valid[:, 1:] |= v[:, :-1]
        nb_valid[:, :-1] |= v[:, 1:]
        ring = invalid & nb_valid
        if not ring.any():
            break
        # local first/second moments of target (valid only) and replacement
        vw = v.astype(np.float64)
        cnt = np.maximum(box_sum(vw, k), 1.0)
        mu_t = box_sum(np.where(v, t, 0.0), k) / cnt
        var_t = np.maximum(box_sum(np.where(v, t * t, 0.0), k) / cnt - mu_t ** 2, 0.0)
        mu_r = box_sum(r, k) / box_sum(np.ones_like(r), k)
        var_r = np.maximum(box_sum(r * r, k) / box_sum(np.ones_like(r), k) - mu_r ** 2, 1e-9)
        gain = np.sqrt(var_t / var_r)
        fill = mu_t + gain * (r - mu_r)
        t[ring] = fill[ring]
        invalid[ring] = False
    return t.astype(np.float32)


def cloud_fill_scene(target: DataFrame, replacement: DataFrame, mask: DataFrame,
                     tile: int,
                     grid_cols: tuple[str, str, str] = ("scene_id", "tx", "ty"),
                     window: int = 8, fmt_out: str = "zlib") -> DataFrame:
    """Whole-scene cloud fill: the 3 tile tables are aligned by tile key,
    then ONE group per scene runs ring_fill_np across the assembled
    mosaics (:func:`raster.scene_map`) — fill regions that cross tile
    boundaries grow correctly (the reference's ProcessFullImage semantics,
    StepwiseLocalRadiometricAdjustment.py:67-234). Scene size is bounded
    by executor memory, exactly the cti_scene tradeoff; use per-tile
    :func:`cloud_fill` when masks never span tiles."""
    joined = join_tiles([target.select(*grid_cols, "bytes"), replacement, mask],
                        grid_cols)
    return scene_map(joined, tile, grid_cols,
                     lambda full, meta: ring_fill_np(*full, window), fmt_out)


def cloud_fill(target: DataFrame, replacement: DataFrame, mask: DataFrame,
               key_cols: list[str], window: int = 8,
               fmt_out: str = "zlib") -> DataFrame:
    """3-way aligned join (target, replacement, mask) + per-tile ring fill
    — the distributed shape of SURVEY.md J9 (per-tile; use
    :func:`cloud_fill_scene` when fill regions cross tile boundaries —
    the reference forces whole-image processing for exactly that reason)."""
    joined = join_tiles([target.select(*key_cols, "bytes"), replacement, mask],
                        key_cols)
    return apply_aligned(joined, key_cols, lambda parts, meta: ring_fill_np(
        parts[0][0], parts[1][0], parts[2][0], window), fmt_out)
