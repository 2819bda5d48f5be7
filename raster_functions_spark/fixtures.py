"""Deterministic synthetic fixture tables (seed-free: pure integer hashing).

Implements the schemas in FIXTURES.md: the canonical ``images`` table
(image+caption rows per BASELINE.json input_hint), ``aoi_polygons``,
``zones``, and ``stack_meta``. Everything is a pure function of the row
index, so generation is distributed (mapInPandas over spark.range) yet
byte-identical at any parallelism — the scaling-efficiency runs require
byte-identical outputs at local[8] vs local[32].

Pixel-content patterns follow FIXTURES.md §5 so operator goldens have
closed forms (analytic DEM for slope/aspect/hillshade; red/NIR ramps for
NDVI; Landsat-like QA cycling the reference's clear-pixel whitelist
/root/reference/functions/LandsatPixelPercentile.py:15-17).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import codec

# QA whitelists from the reference (LandsatPixelPercentile.py:15-17)
QA_CLEAR_C1 = (672, 676, 680, 684)
QA_CLEAR_C2 = (21824, 21888)  # representative C2 clear values
QA_CLOUDY = (712, 752, 6816)

HOT_CENTER = (10.0, 45.0)  # 20% of tiles cluster here (skew exercise)
HOT_RADIUS = 1.0

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("caption", T.StringType(), False),
    T.StructField("phash", T.LongType(), False),
    T.StructField("lon", T.DoubleType(), False),
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("xmin", T.DoubleType(), False),
    T.StructField("ymin", T.DoubleType(), False),
    T.StructField("xmax", T.DoubleType(), False),
    T.StructField("ymax", T.DoubleType(), False),
    T.StructField("epsg", T.IntegerType(), False),
    T.StructField("bands", T.IntegerType(), False),
    T.StructField("dtype", T.StringType(), False),
    T.StructField("nodata", T.DoubleType(), True),
])

CELL_DEG = 0.001  # dx = dy = 0.001° per FIXTURES.md


def splitmix64(x):
    """Deterministic integer hash (public-domain splitmix64 finalizer)."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the algorithm
        z = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _unit(x, salt: int):
    """hash → double in [0,1)."""
    return (splitmix64(np.asarray(x, dtype=np.uint64) ^ np.uint64(salt)).astype(np.float64)
            / float(2**64))


# ------------------------------------------------------------ pixels -------

def tile_dims(i: int) -> tuple[int, int]:
    return (32, 64, 128)[i % 3], (32, 64, 128)[(i + 1) % 3]


def tile_kind(i: int) -> int:
    """0=analytic DEM f4; 1=red/NIR u1; 2=6-band Landsat-like u2; 3=degenerate u1."""
    return i % 4


def tile_fmt(i: int) -> str:
    kind = tile_kind(i)
    if kind == 1 or kind == 3:                       # u1 → lossy eligible
        return ("raw", "rle", "zlib", "dct")[(i // 4) % 4]
    return ("raw", "rle", "zlib")[(i // 4) % 3]


_GRID_CACHE: dict = {}


def _grid_arrays(w: int, h: int):
    """Per-(w, h) cached index grids + the i-independent kind-0 DEM.

    tile_dims cycles through 3 shapes, yet every gen_pixels call paid a
    fresh mgrid allocation — and the kind-0 DEM (sin/cos over the grid)
    does not depend on i AT ALL, so it is a pure function of the shape.
    Caching is exact (the cached values are bit-identical arrays; mutable
    returns are copied below) and per-process, so reused Spark Python
    workers amortize it across tasks (guide §4.5)."""
    g = _GRID_CACHE.get((w, h))
    if g is None:
        yy, xx = np.mgrid[0:h, 0:w]
        px = (yy * w + xx).astype(np.int64)
        z = (100.0 + 50.0 * np.sin(2 * np.pi * xx / w) * np.cos(2 * np.pi * yy / h)
             + 0.1 * xx)
        g = (yy, xx, px, z.astype(np.float32)[None, :, :])
        _GRID_CACHE[(w, h)] = g
    return g


def gen_pixels(i: int) -> np.ndarray:
    """The golden pixel content for row i — the NumPy oracle used by tests."""
    w, h = tile_dims(i)
    kind = tile_kind(i)
    yy, xx, px, dem = _grid_arrays(w, h)
    if kind == 0:  # analytic DEM: differentiable closed form (FIXTURES.md §5)
        return dem.copy()
    if kind == 1:  # red/NIR pair
        red = ((i * 7 + px) % 251).astype(np.uint8)
        nir = ((i * 13 + px) % 241).astype(np.uint8)
        return np.stack([red, nir])
    if kind == 2:  # 6-band Landsat-like stack; last band = QA
        bands = [((i * (3 + b) + px * (b + 1)) % 10000).astype(np.uint16)
                 for b in range(5)]
        qa_vals = np.array(QA_CLEAR_C1 + QA_CLOUDY, dtype=np.uint16)
        qa = qa_vals[(i + px) % len(qa_vals)]
        return np.stack(bands + [qa])
    # kind 3: degenerate — constant or ramp with zeros (mask/nodata tests)
    if i % 8 == 3:
        return np.full((1, h, w), (i % 200) + 1, dtype=np.uint8)
    ramp = (px % 256).astype(np.uint8)
    ramp[px % 17 == 0] = 0  # embedded nodata zeros
    return ramp[None, :, :]


def tile_meta(i: int) -> dict:
    kind = tile_kind(i)
    dtype = ("f4", "u1", "u2", "u1")[kind]
    bands = (1, 2, 6, 1)[kind]
    nodata = {"f4": -9999.0, "u1": 0.0, "u2": 0.0}[dtype] if kind in (0, 3) else None
    return {"dtype": dtype, "bands": bands, "nodata": nodata}


def tile_lonlat(i: int) -> tuple[float, float]:
    if i % 5 == 0:  # 20% hot cluster (skew)
        lon = HOT_CENTER[0] + (float(_unit(i, 101)) - 0.5) * 2 * HOT_RADIUS
        lat = HOT_CENTER[1] + (float(_unit(i, 102)) - 0.5) * 2 * HOT_RADIUS
    else:
        lon = float(_unit(i, 1)) * 360.0 - 180.0
        lat = float(_unit(i, 2)) * 170.0 - 85.0
    return lon, lat


def images_pdf(indices: np.ndarray, zlib_level: int = 6) -> pd.DataFrame:
    """Materialize image rows for the given indices (runs on executors).

    ``zlib_level`` passes through to codec.encode — keep the default for
    any table whose encoded byte lengths are observable downstream (the
    mm_shards oracle embeds them as literals); the flagship synthesize→
    decode kernel passes 3 (bytes are internal there — see codec.encode)."""
    rows = []
    for i in indices.tolist():
        px = gen_pixels(i)
        meta = tile_meta(i)
        fmt = tile_fmt(i)
        buf = codec.encode(px, fmt, zlib_level=zlib_level)
        w, h = int(px.shape[2]), int(px.shape[1])
        lon, lat = tile_lonlat(i)
        hw = w * CELL_DEG / 2
        hh = h * CELL_DEG / 2
        rows.append({
            "image_id": f"img{i:09d}",
            "bytes": buf,
            "w": w, "h": h, "fmt": fmt,
            "caption": f"caption-{i}-{int(splitmix64(i)):016x}",
            "phash": codec.phash64(px),
            "lon": lon, "lat": lat,
            "xmin": lon - hw, "ymin": lat - hh,
            "xmax": lon + hw, "ymax": lat + hh,
            "epsg": 4326,
            "bands": meta["bands"], "dtype": meta["dtype"],
            "nodata": meta["nodata"],
        })
    # keeps the columns when ``indices`` is empty
    return pd.DataFrame(rows, columns=IMAGES_SCHEMA.fieldNames())


def images_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic images table: spark.range → mapInPandas.

    Partition count does not affect content (pure function of row index),
    so outputs are identical at any parallelism."""
    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n, 1, parts)

    def gen(batches):
        for pdf in batches:
            yield images_pdf(pdf["id"].to_numpy())

    return base.mapInPandas(gen, schema=IMAGES_SCHEMA)


# ------------------------------------------------ ML training fixtures -----

def ml_training_set(n_per: int = 25,
                    centroids: tuple = ((40.0, 40.0), (200.0, 200.0),
                                        (40.0, 200.0))) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic 2-feature training blobs in the kind-1 pixel range
    (red 0-250, nir 0-240): splitmix jitter ±20 around each centroid.
    Shared by the m3/m4 contract queries and their replay oracles — the
    model fits are seeded and deterministic, so fixture-computed
    predictions are valid oracle goldens (ring-fill precedent)."""
    xs, ys = [], []
    for c, (cx, cy) in enumerate(centroids):
        idx = np.arange(n_per, dtype=np.uint64) + np.uint64(c * 100000)
        jx = (_unit(idx, 21) - 0.5) * 40.0
        jy = (_unit(idx, 22) - 0.5) * 40.0
        xs.append(np.stack([cx + jx, cy + jy], axis=1))
        ys.append(np.full(n_per, c, dtype=np.int64))
    return np.concatenate(xs), np.concatenate(ys)


# ----------------------------------------- interchange-format fixtures -----

PNG_DIMS = (3, 24, 24)


def png_fixture_pixels(i: int) -> np.ndarray:
    """Closed-form pixels (exactly reproducible in SQL): v = (i·13 + b·31 +
    y·7 + x·3) mod 256 — PNG is lossless, so the decode contract query can
    be checked against a DuckDB closed form, not an embedded golden."""
    bands, h, w = PNG_DIMS
    bb, yy, xx = np.mgrid[0:bands, 0:h, 0:w]
    return ((i * 13 + bb * 31 + yy * 7 + xx * 3) % 256).astype(np.uint8)


def png_images_df(spark: SparkSession, n: int,
                  partitions: int | None = None) -> DataFrame:
    """Distributed deterministic table of real PNG payloads; filter type
    cycles 0-4 and every third image is Adam7-interlaced, so the contract
    query exercises every unfilter path AND the interlace scatter."""
    from . import formats
    parts = partitions or spark.sparkContext.defaultParallelism
    schema = T.StructType([T.StructField("image_id", T.StringType(), False),
                           T.StructField("bytes", T.BinaryType(), False)])

    def gen(batches):
        for pdf in batches:
            rows = [{"image_id": f"png{i:05d}",
                     "bytes": formats.encode_png(png_fixture_pixels(i),
                                                 filter_type=i % 5,
                                                 interlace=(i % 3 == 1))}
                    for i in pdf["id"].tolist()]
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    return spark.range(0, n, 1, parts).mapInPandas(gen, schema=schema)


def jpeg_fixture_pixels(i: int) -> np.ndarray:
    """Smooth deterministic content (sinusoid ramps) — JPEG-friendly so the
    quality-90 fixtures stay comfortably above the 40 dB PSNR gate."""
    bands = 1 if i % 4 == 0 else 3
    h, w = 24, 32
    yy, xx = np.mgrid[0:h, 0:w]
    planes = []
    for b in range(bands):
        v = (128.0 + 90.0 * np.sin(2 * np.pi * (xx + i * 3) / w + b)
             * np.cos(2 * np.pi * yy / h))
        planes.append(v)
    return np.clip(np.round(np.stack(planes)), 0, 255).astype(np.uint8)


def jpeg_fixture_payload(i: int) -> bytes:
    """The exact JPEG bytes for row i (shared by the Spark fixture builder
    and the oracle's single-process replay): quality 90, subsampling and
    restart interval cycling through the supported combinations; every
    fifth image is PROGRESSIVE (SOF2 spectral selection + successive
    approximation) so the contract query exercises that decode path."""
    from . import jpeg
    px = jpeg_fixture_pixels(i)
    sub = "420" if (i % 3 == 1 and px.shape[0] == 3) else "444"
    if i % 5 == 2:
        return jpeg.encode_jpeg_progressive(px, quality=90, subsampling=sub)
    return jpeg.encode_jpeg(px, quality=90, subsampling=sub,
                            restart_interval=(0, 0, 2)[i % 3])


def mixed_fixture_payload(i: int, corrupt_every: int = 0) -> bytes:
    """One crawl-dump payload: format cycles PNG → JPEG → BMP → engine
    container per row. With ``corrupt_every`` k > 0, every row where
    i % k == min(3, k - 1) is truncated to 12 bytes (magic intact, body
    gone) — the deterministic 'bit-rotted object' for quarantine-path
    contracts. (The min() keeps the predicate satisfiable for k ≤ 3:
    i % 2 == 3 is never true, so small-k callers silently got a fully
    clean corpus and their quarantine tests passed vacuously; existing
    k ≥ 4 callers keep the exact historical corrupt rows.)"""
    from . import codec as _codec
    from . import formats
    k = i // 4
    if i % 4 == 0:
        buf = formats.encode_png(png_fixture_pixels(k), filter_type=k % 5)
    elif i % 4 == 1:
        buf = jpeg_fixture_payload(k)
    elif i % 4 == 2:
        buf = formats.encode_bmp(png_fixture_pixels(k))
    else:
        buf = _codec.encode(png_fixture_pixels(k), "zlib")
    if corrupt_every and i % corrupt_every == min(3, corrupt_every - 1):
        return buf[:12]
    return buf


def mixed_images_df(spark: SparkSession, n: int,
                    partitions: int | None = None,
                    corrupt_every: int = 0) -> DataFrame:
    """A crawl-dump-shaped table of :func:`mixed_fixture_payload` rows
    (catalog-crawl + quarantine fixtures; every format's header parser
    gets exercised)."""
    parts = partitions or spark.sparkContext.defaultParallelism
    schema = T.StructType([T.StructField("image_id", T.StringType(), False),
                           T.StructField("bytes", T.BinaryType(), False)])

    def gen(batches):
        for pdf in batches:
            rows = [{"image_id": f"mix{i:05d}",
                     "bytes": mixed_fixture_payload(i, corrupt_every)}
                    for i in pdf["id"].tolist()]
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    return spark.range(0, n, 1, parts).mapInPandas(gen, schema=schema)


def jpeg_images_df(spark: SparkSession, n: int,
                   partitions: int | None = None) -> DataFrame:
    parts = partitions or spark.sparkContext.defaultParallelism
    schema = T.StructType([T.StructField("image_id", T.StringType(), False),
                           T.StructField("bytes", T.BinaryType(), False)])

    def gen(batches):
        for pdf in batches:
            rows = [{"image_id": f"jpg{i:05d}",
                     "bytes": jpeg_fixture_payload(i)}
                    for i in pdf["id"].tolist()]
            yield pd.DataFrame(rows, columns=["image_id", "bytes"])

    return spark.range(0, n, 1, parts).mapInPandas(gen, schema=schema)


# ------------------------------------------------------------- AOIs --------

AOI_SCHEMA = T.StructType([
    T.StructField("aoi_id", T.LongType(), False),
    T.StructField("name", T.StringType(), False),
    T.StructField("ring_x", T.ArrayType(T.DoubleType()), False),
    T.StructField("ring_y", T.ArrayType(T.DoubleType()), False),
    T.StructField("xmin", T.DoubleType(), False),
    T.StructField("ymin", T.DoubleType(), False),
    T.StructField("xmax", T.DoubleType(), False),
    T.StructField("ymax", T.DoubleType(), False),
])


def aoi_ring(k: int) -> tuple[np.ndarray, np.ndarray]:
    """Closed convex-ish polygon ring for AOI k (counter-clockwise).

    AOI 0 is the giant polygon covering the hot cluster (FIXTURES.md §2)."""
    if k == 0:
        cx, cy, r = HOT_CENTER[0], HOT_CENTER[1], 3.0
        nv = 8
    else:
        cx = float(_unit(k, 11)) * 340.0 - 170.0
        cy = float(_unit(k, 12)) * 150.0 - 75.0
        r = 0.05 + float(_unit(k, 13)) ** 2 * 4.95  # 0.05°–5°, skewed small
        nv = 5 + int(_unit(k, 14) * 8)              # 5–12 vertices
    ang = np.sort(_unit(np.arange(nv) + k * 1000, 15) * 2 * np.pi)
    rad = r * (0.6 + 0.4 * _unit(np.arange(nv) + k * 2000, 16))
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang)
    return xs, ys


_AOI_COLS = ["aoi_id", "name", "ring_x", "ring_y", "xmin", "ymin", "xmax", "ymax"]


def aoi_pdf(n_aoi: int) -> pd.DataFrame:
    rows = []
    for k in range(n_aoi):
        xs, ys = aoi_ring(k)
        rows.append({
            "aoi_id": k, "name": f"aoi-{k}",
            "ring_x": xs.tolist(), "ring_y": ys.tolist(),
            "xmin": float(xs.min()), "ymin": float(ys.min()),
            "xmax": float(xs.max()), "ymax": float(ys.max()),
        })
    return pd.DataFrame(rows, columns=_AOI_COLS)  # keeps schema when empty


def aoi_df(spark: SparkSession, n_aoi: int = 50) -> DataFrame:
    return spark.createDataFrame(aoi_pdf(n_aoi), schema=AOI_SCHEMA)


# ------------------------------------------------------------- zones -------

def zones_pdf(n_zones: int = 20) -> pd.DataFrame:
    """Zonal threshold table mirroring ZonalRemap's {zoneId: [zmin,zmax,zval]}
    (/root/reference/functions/deprecated/ZonalRemap.py:139-156), with null
    open-ended intervals and null zval → default 255 (probe semantics
    ZonalRemap.py:190-198)."""
    z = np.arange(1, n_zones + 1, dtype=np.int64)
    zmin = np.where(z % 5 == 0, np.nan, (z * 9.0) % 120.0)
    zmax = np.where(z % 7 == 0, np.nan, zmin + 40.0 + (z % 11) * 5.0)
    zmax = np.where(np.isnan(zmin), 60.0 + (z % 13) * 7.0, zmax)
    zval = np.where(z % 4 == 0, np.nan, (z * 3.0) % 254.0 + 1.0)
    return pd.DataFrame({
        "zone_id": z,
        "zmin": zmin, "zmax": zmax, "zval": zval,
        "attr1": (z * 1.5) % 100.0,
        "attr2": (z * 2.5) % 100.0,
        "attr3": (z * 3.5) % 100.0,
    })


def zones_df(spark: SparkSession, n_zones: int = 20) -> DataFrame:
    return spark.createDataFrame(zones_pdf(n_zones))


# ------------------------------------------------- DEM scenes (halo) -------

def dem_scene(tiles_x: int, tiles_y: int, tile: int = 32,
              dtype: str = "f4") -> np.ndarray:
    """One continuous analytic DEM over a (tiles_y*tile, tiles_x*tile) grid —
    split into tiles by :func:`dem_scene_pdf`; focal-op tests check that
    halo-joined per-tile kernels reproduce the whole-scene kernel exactly.

    ``dtype='f8'`` keeps the closed form un-quantized — used by the
    DuckDB-oracle contract queries, where both engines must evaluate the
    identical float64 expression (oracles.dem_z_sql)."""
    H, W = tiles_y * tile, tiles_x * tile
    yy, xx = np.mgrid[0:H, 0:W]
    z = (100.0 + 50.0 * np.sin(2 * np.pi * xx / 96.0) * np.cos(2 * np.pi * yy / 80.0)
         + 0.05 * xx + 0.02 * yy)
    return z.astype(np.dtype(dtype))


def dem_scene_pdf(scene_id: str, tiles_x: int, tiles_y: int, tile: int = 32,
                  fmt: str = "zlib", dtype: str = "f4") -> pd.DataFrame:
    full = dem_scene(tiles_x, tiles_y, tile, dtype)
    rows = []
    for ty in range(tiles_y):
        for tx in range(tiles_x):
            px = full[ty * tile:(ty + 1) * tile, tx * tile:(tx + 1) * tile]
            rows.append({
                "scene_id": scene_id, "tx": tx, "ty": ty,
                "w": tile, "h": tile, "fmt": fmt,
                "bytes": codec.encode(px[None, :, :], fmt),
                "cell_dx": CELL_DEG, "cell_dy": CELL_DEG,
            })
    return pd.DataFrame(rows)


def dem_scene_df(spark: SparkSession, scene_id: str = "scene0",
                 tiles_x: int = 4, tiles_y: int = 4, tile: int = 32,
                 dtype: str = "f4") -> DataFrame:
    return spark.createDataFrame(dem_scene_pdf(scene_id, tiles_x, tiles_y, tile,
                                               dtype=dtype))


# ---------------------------------------------- time stacks (composites) ---

def stack_images_pdf(scene_ids: list[int], n_times: int, tile: int = 16) -> pd.DataFrame:
    """Time stack: for each scene, n_times co-registered acquisitions of the
    same tile (bands: [value, qa]); QA cycles clear/cloudy values so masked
    composites (median/percentile) have countable goldens."""
    rows = []
    qa_vals = np.array(QA_CLEAR_C1 + QA_CLOUDY, dtype=np.uint16)
    for s in scene_ids:
        for t in range(n_times):
            i = s * 1000 + t
            yy, xx = np.mgrid[0:tile, 0:tile]
            px = ((s * 31 + t * 17 + yy * tile + xx) % 4000).astype(np.uint16)
            qa = qa_vals[(s + t + yy * tile + xx) % len(qa_vals)].astype(np.uint16)
            stack = np.stack([px, qa])
            rows.append({
                "scene_id": f"scene{s}", "t": t,
                "acq_month": (t % 12) + 1,
                "acq_days": 31046.0 + t * 30.0,  # days since 1900 variant form
                "bytes": codec.encode(stack, "zlib"),
                "w": tile, "h": tile,
            })
    return pd.DataFrame(rows)


def stack_images_df(spark: SparkSession, n_scenes: int = 4, n_times: int = 24,
                    tile: int = 16) -> DataFrame:
    return spark.createDataFrame(stack_images_pdf(list(range(n_scenes)), n_times, tile))


def mosaic_stack_pdf(n_scenes: int = 3, n_t: int = 6, tile: int = 16,
                     mod: int = 150) -> pd.DataFrame:
    """1-band mosaic collection: px = (s·31 + t·17 + y·tile + x) % mod —
    closed-form so DuckDB oracles re-derive every pixel; mod 150 straddles
    the FindMax family's validity cap at 100 (FindMax.py:72)."""
    rows = []
    for s in range(n_scenes):
        for t in range(n_t):
            yy, xx = np.mgrid[0:tile, 0:tile]
            px = ((s * 31 + t * 17 + yy * tile + xx) % mod).astype(np.float32)
            rows.append({"scene_id": f"scene{s}", "t": t,
                         "bytes": codec.encode(px[None], "zlib"),
                         "w": tile, "h": tile})
    return pd.DataFrame(rows)


def mosaic_stack_df(spark: SparkSession, n_scenes: int = 3, n_t: int = 6,
                    tile: int = 16, mod: int = 150) -> DataFrame:
    return spark.createDataFrame(mosaic_stack_pdf(n_scenes, n_t, tile, mod))


def sarima_monthly_stack(tile: int = 8, n_t: int = 144) -> np.ndarray:
    """Deterministic monthly series per pixel: trend + pixel-scaled annual
    seasonality (float32-quantized like the encoded tiles) — the
    SeasonalARIMA template fixture. Returns (n_t, tile, tile) float32."""
    yy, xx = np.mgrid[0:tile, 0:tile]
    base = (yy * tile + xx).astype(np.float64)
    out = np.stack([
        (10.0 + 0.01 * base * t / n_t
         + np.sin(2 * np.pi * (t % 12) / 12.0) * (1 + base / 64.0))
        for t in range(n_t)])
    return out.astype(np.float32)


def sarima_monthly_stack_pdf(tile: int = 8, n_t: int = 144) -> pd.DataFrame:
    full = sarima_monthly_stack(tile, n_t)
    return pd.DataFrame([
        {"scene_id": "s0", "t": t,
         "bytes": codec.encode(full[t][None], "zlib"), "w": tile, "h": tile}
        for t in range(n_t)])


def _mp4_frame(i: int, t: int, tile: int = 16) -> np.ndarray:
    yy, xx = np.mgrid[0:tile, 0:tile]
    return ((i * 13 + t * 7 + yy * tile + xx) % 251).astype(np.uint8)


def mp4_videos_pdf(n: int = 30, tile: int = 16) -> pd.DataFrame:
    """Deterministic MP4 fixture corpus: motion-JPEG containers with
    4..6 frames of closed-form gray pixels; every 5th video is avc1-tagged
    (real demux, undecodable codec → quarantine metadata) and every 9th is
    a truncated container (corrupt → full quarantine row)."""
    from . import formats, jpeg
    rows = []
    for i in range(n):
        n_frames = 4 + i % 3
        frames = [jpeg.encode_jpeg(_mp4_frame(i, t, tile)[None], quality=90)
                  for t in range(n_frames)]
        tag = "avc1" if i % 5 == 4 else "jpeg"
        # avc1 tracks carry a REAL avcC (baseline SPS) whose coded dims
        # deliberately differ from the stsd values — the SPS is
        # authoritative, and the quarantine path must report it
        cfg = (formats.encode_avcc(tile - 2, tile - 4, profile_idc=66,
                                   level_idc=30)
               if tag == "avc1" else None)
        buf = formats.encode_mp4_samples(frames, tag, tile, tile,
                                         codec_config=cfg)
        if i % 9 == 8:
            buf = buf[: len(buf) // 3]            # bit-rot: body truncated
        rows.append({"video_id": f"vid{i:05d}", "bytes": buf,
                     "n_frames": n_frames})
    return pd.DataFrame(rows)


def mp4_videos_df(spark: SparkSession, n: int = 30) -> DataFrame:
    return spark.createDataFrame(mp4_videos_pdf(n))


def ann_vectors(n: int = 2000, nq: int = 8, dim: int = 32):
    """Deterministic ANN fixture: clustered float vectors from splitmix64
    (16 centers; corpus + nq perturbed queries). Returns (ids, X, qids, Q)."""
    def unit(idx, salt):
        u = splitmix64(idx.astype(np.uint64) ^ np.uint64(salt)).astype(np.float64)
        return u / float(2 ** 64) - 0.5
    centers = unit(np.arange(16 * dim, dtype=np.uint64), 0xC0FFEE).reshape(16, dim) * 4.0
    idx = np.arange(n * dim, dtype=np.uint64)
    noise = unit(idx, 0xBEEF).reshape(n, dim)
    assign = (splitmix64(np.arange(n, dtype=np.uint64)) % np.uint64(16)).astype(np.int64)
    X = centers[assign] + noise
    qsel = np.arange(nq, dtype=np.int64) * (n // nq)
    qnoise = unit(np.arange(nq * dim, dtype=np.uint64), 0xF00D).reshape(nq, dim) * 0.2
    Q = X[qsel] + qnoise
    return (np.arange(n, dtype=np.int64), X,
            np.arange(nq, dtype=np.int64) + 1_000_000, Q)


def ann_vectors_dfs(spark: SparkSession, n: int = 2000, nq: int = 8,
                    dim: int = 32):
    ids, X, qids, Q = ann_vectors(n, nq, dim)
    corpus = spark.createDataFrame(pd.DataFrame(
        {"vec_id": ids, "embedding": [r.tolist() for r in X]}))
    queries = spark.createDataFrame(pd.DataFrame(
        {"vec_id": qids, "embedding": [r.tolist() for r in Q]}))
    return corpus, queries
