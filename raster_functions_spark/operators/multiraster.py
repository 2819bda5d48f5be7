"""Multi-raster operators: aligned two-raster kernels, scene-statistics
two-pass maps, and iterative gap-fill — SURVEY.md §2.3 J4/J9, §2.4 A9.

The reference receives co-registered rasters as multiple pixelBlocks
(updatePixels(**pixelBlocks)); the Spark equivalent aligns them with an
equi-join on the tile key (the grid-alignment join J4), then runs one
kernel over both decoded arrays.

Output tiles follow the tile-row contract in :mod:`raster` (``TILE_FIELDS``
filled by ``tile_row``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codec
from ..raster import TILE_FIELDS, tile_row
from .focal import slope_aspect_np


def two_raster_op(df_a: DataFrame, df_b: DataFrame, fn, key_cols: list[str],
                  fmt_out: str = "zlib", name: str = "two_raster") -> DataFrame:
    """Equi-join two tile tables on the tile key and apply
    ``fn(px_a, px_b) -> px`` per aligned pair — the host's multi-raster
    alignment (J4, FindMaxPixel_Mosaic.rft.xml MatchVariable semantics)."""
    a = df_a.select(*key_cols, F.col("bytes").alias("bytes_a"))
    b = df_b.select(*key_cols, F.col("bytes").alias("bytes_b"))
    joined = a.join(b, key_cols)
    out_schema = T.StructType([df_a.schema[c] for c in key_cols] + TILE_FIELDS)

    def run(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                pa = codec.decode(bytes(pdf["bytes_a"].iloc[i]))
                pb = codec.decode(bytes(pdf["bytes_b"].iloc[i]))
                rows.append({**{c: pdf[c].iloc[i] for c in key_cols},
                             **tile_row(fn(pa, pb), fmt_out)})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return joined.mapInPandas(run, schema=out_schema)


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


def arithmetic_fn(op: str):
    f = {"add": np.add, "sub": np.subtract, "mul": np.multiply, "div": np.divide}[op]
    def fn(pa, pb):
        with np.errstate(divide="ignore", invalid="ignore"):
            out = f(pa.astype(np.float64), pb.astype(np.float64))
        return np.nan_to_num(out, nan=0.0, posinf=0.0, neginf=0.0).astype(np.float32)
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

    joined = (dem.select(*key_cols, F.col("bytes").alias("bytes_dem"))
              .join(image.select(*key_cols, F.col("bytes").alias("bytes_img")), key_cols))

    def partials(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                ci = cos_i_of(codec.decode(bytes(pdf["bytes_dem"].iloc[i]))).ravel()
                v = codec.decode(bytes(pdf["bytes_img"].iloc[i]))[0].astype(np.float64).ravel()
                rows.append({**{c: pdf[c].iloc[i] for c in key_cols},
                             "s_x": ci.sum(), "s_y": v.sum(),
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
    joined2 = joined.join(F.broadcast(stats), scene_key)
    out_schema = T.StructType([dem.schema[c] for c in key_cols]
                              + [T.StructField("c_factor", T.DoubleType())] + TILE_FIELDS)

    def correct(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                ci = cos_i_of(codec.decode(bytes(pdf["bytes_dem"].iloc[i])))
                v = codec.decode(bytes(pdf["bytes_img"].iloc[i]))[0].astype(np.float64)
                C_raw = pdf["c_factor"].iloc[i]
                if C_raw is None or (isinstance(C_raw, float) and np.isnan(C_raw)):
                    corr = v.astype(np.float32)        # identity: no terrain signal
                    C = float("nan")
                else:
                    C = float(C_raw)
                    # self-shadowed / grazing pixels (cos_i ≈ 0 or < 0)
                    # sit on the division singularity — leave uncorrected.
                    # The DENOMINATOR is cos_i + C: with a negative C
                    # (brightness anti-correlated with illumination) it
                    # crosses zero for LIT pixels too, so guard |cos_i+C|
                    # as well — a near-zero denominator would encode ±inf
                    # into the tile and poison downstream aggregates
                    lit = (ci > 0.05) & (np.abs(ci + C) > 0.05)
                    corr = np.where(lit, v * (np.cos(sz) + C)
                                    / np.where(lit, ci + C, 1.0),
                                    v).astype(np.float32)
                rows.append({**{c: pdf[c].iloc[i] for c in key_cols},
                             "c_factor": C, **tile_row(corr, fmt_out)})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return joined2.mapInPandas(correct, schema=out_schema)


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
    then ONE applyInPandas group per scene assembles the mosaics and runs
    ring_fill_np across the full scene — fill regions that cross tile
    boundaries grow correctly (the reference's ProcessFullImage semantics,
    StepwiseLocalRadiometricAdjustment.py:67-234). Scene size is bounded
    by executor memory, exactly the cti_scene tradeoff; use per-tile
    :func:`cloud_fill` when masks never span tiles."""
    scn, txc, tyc = grid_cols
    t = target.select(*grid_cols, F.col("bytes").alias("b_t"))
    r = replacement.select(*grid_cols, F.col("bytes").alias("b_r"))
    m = mask.select(*grid_cols, F.col("bytes").alias("b_m"))
    joined = t.join(r, list(grid_cols)).join(m, list(grid_cols))
    out_schema = T.StructType([target.schema[c] for c in grid_cols] + TILE_FIELDS)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        txs = pdf[txc].to_numpy()
        tys = pdf[tyc].to_numpy()
        W = (txs.max() + 1) * tile
        H = (tys.max() + 1) * tile
        full = {c: np.zeros((H, W), np.float64) for c in ("t", "r", "m")}
        for i in range(len(pdf)):
            sl = (slice(tys[i] * tile, (tys[i] + 1) * tile),
                  slice(txs[i] * tile, (txs[i] + 1) * tile))
            full["t"][sl] = codec.decode(bytes(pdf["b_t"].iloc[i]))[0]
            full["r"][sl] = codec.decode(bytes(pdf["b_r"].iloc[i]))[0]
            full["m"][sl] = codec.decode(bytes(pdf["b_m"].iloc[i]))[0]
        filled = ring_fill_np(full["t"], full["r"], full["m"], window)
        rows = []
        for i in range(len(pdf)):
            t_out = filled[tys[i] * tile:(tys[i] + 1) * tile,
                           txs[i] * tile:(txs[i] + 1) * tile]
            rows.append({scn: key[0], txc: int(txs[i]), tyc: int(tys[i]),
                         **tile_row(t_out, fmt_out)})
        return pd.DataFrame(rows)

    return joined.groupBy(scn).applyInPandas(run, schema=out_schema)


def cloud_fill(target: DataFrame, replacement: DataFrame, mask: DataFrame,
               key_cols: list[str], window: int = 8,
               fmt_out: str = "zlib") -> DataFrame:
    """3-way aligned join (target, replacement, mask) + per-tile ring fill
    — the distributed shape of SURVEY.md J9 (per-tile; use
    :func:`cloud_fill_scene` when fill regions cross tile boundaries —
    the reference forces whole-image processing for exactly that reason)."""
    t = target.select(*key_cols, F.col("bytes").alias("b_t"))
    r = replacement.select(*key_cols, F.col("bytes").alias("b_r"))
    m = mask.select(*key_cols, F.col("bytes").alias("b_m"))
    joined = t.join(r, key_cols).join(m, key_cols)
    out_schema = T.StructType([target.schema[c] for c in key_cols] + TILE_FIELDS)

    def run(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                pt = codec.decode(bytes(pdf["b_t"].iloc[i]))[0]
                pr = codec.decode(bytes(pdf["b_r"].iloc[i]))[0]
                pm = codec.decode(bytes(pdf["b_m"].iloc[i]))[0]
                rows.append({**{c: pdf[c].iloc[i] for c in key_cols},
                             **tile_row(ring_fill_np(pt, pr, pm, window), fmt_out)})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return joined.mapInPandas(run, schema=out_schema)
