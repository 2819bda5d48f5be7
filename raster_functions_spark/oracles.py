"""DuckDB oracle-SQL builders for the image-engine contract queries.

Every ``img_*`` query in ``__spark_entry__.py`` regenerates its pixels from
the deterministic closed-form fixtures (:mod:`fixtures`), so the DuckDB
oracle can *re-derive the same pixels in SQL* (``generate_series`` +
arithmetic) and re-express the operator semantics relationally — Horn
gradients as 9 clamped evaluations of the closed-form DEM, flow
accumulation as a recursive CTE over the D8 graph, composites as
``median() GROUP BY pixel``, zonal/hex rollups as plain ``GROUP BY``.

Float-parity rules (each verified against the NumPy kernels):

- engine kernels compute in float64; everywhere the engine *stores* f32
  (codec encode), the SQL wraps the value in ``CAST(.. AS FLOAT)`` so both
  sides quantize identically before aggregation;
- outputs prefer exact integers (sums of uint8/int rasters, counts); float
  outputs are rounded to ≥4 decimals, far above the ~1e-12 cross-engine
  libm/summation-order noise;
- ``splitmix64`` (the fixture hash) is reproduced exactly in SQL with
  UBIGINT xor/shift plus a 32-bit-split multiply mod 2^64 (HUGEINT is a
  signed int128 and would overflow on a full 64×64-bit product).

Two oracles embed engine-side *inputs* as literal ``VALUES`` rather than
recomputing them in SQL, with the reason documented at the builder:

- :func:`phash_pairs_sql` — the 32×32 DCT has mathematically-tied
  coefficients on the structured fixtures, so the sign-vs-median bits are
  not reproducible under a different summation order (measured: 403/600
  hashes flip by ~1 bit). The phashes are inputs (a stored column); the
  LSH banding + Hamming + pair logic — what the query actually computes —
  runs in SQL.
- :func:`flagship_sql` / :func:`cloud_fill_sql` — per-image decode stats
  (which include the lossy-DCT round trip) and the iterative ring fill are
  re-computed with the same public NumPy code single-process and embedded;
  the distributed parts (lon/lat generation, cell encode, PIP join,
  3-way alignment, aggregation) run in SQL.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from . import codec, fixtures, grid

_M64 = 1 << 64


# ------------------------------------------------------ splitmix64 ---------

def _mulmod_sql(a: str, b: int) -> str:
    """(a * b) mod 2^64 for a UBIGINT expression and a constant, split into
    32-bit halves to stay inside HUGEINT (signed int128) range."""
    b_lo = b % (1 << 32)
    return (f"CAST((CAST(({a}) % 4294967296 AS HUGEINT) * {b} + "
            f"((CAST(({a}) >> 32 AS HUGEINT) * {b_lo}) % 4294967296) * 4294967296"
            f") % {_M64} AS UBIGINT)")


def splitmix64_sql(x: str) -> str:
    """splitmix64 over a UBIGINT expression — exact vs fixtures.splitmix64."""
    z0 = f"CAST((CAST({x} AS HUGEINT) + 11400714819323198485) % {_M64} AS UBIGINT)"
    z1 = _mulmod_sql(f"xor({z0}, {z0} >> 30)", 0xBF58476D1CE4E5B9)
    z2 = _mulmod_sql(f"xor({z1}, {z1} >> 27)", 0x94D049BB133111EB)
    return f"(xor({z2}, {z2} >> 31))"


def unit_sql(x: str, salt: int) -> str:
    """fixtures._unit(x, salt): hash → double in [0,1), bit-exact."""
    h = splitmix64_sql(f"xor(CAST({x} AS UBIGINT), CAST({salt} AS UBIGINT))")
    return f"(CAST({h} AS DOUBLE) / 18446744073709551616.0)"


def image_lon_sql(i: str = "i") -> str:
    """fixtures.tile_lonlat lon (hot-cluster mixture)."""
    return (f"(CASE WHEN {i} % 5 = 0"
            f" THEN {fixtures.HOT_CENTER[0]} + ({unit_sql(i, 101)} - 0.5) * 2.0 * {fixtures.HOT_RADIUS}"
            f" ELSE {unit_sql(i, 1)} * 360.0 - 180.0 END)")


def image_lat_sql(i: str = "i") -> str:
    return (f"(CASE WHEN {i} % 5 = 0"
            f" THEN {fixtures.HOT_CENTER[1]} + ({unit_sql(i, 102)} - 0.5) * 2.0 * {fixtures.HOT_RADIUS}"
            f" ELSE {unit_sql(i, 2)} * 170.0 - 85.0 END)")


# ----------------------------------------------------- DEM + gradients -----

def dem_z_sql(x: str, y: str) -> str:
    """fixtures.dem_scene closed form (float64; the oracle queries build
    the DEM fixture with dtype='f8' so no f32 quantization happens)."""
    return (f"(100.0 + 50.0 * sin(2*pi()*({x})/96.0) * cos(2*pi()*({y})/80.0)"
            f" + 0.05*({x}) + 0.02*({y}))")


def _clamp(e: str, hi: int) -> str:
    return f"LEAST(GREATEST({e}, 0), {hi})"


def horn_defs_sql(w: int, h: int, cellsize: float,
                  zf=dem_z_sql, x: str = "x", y: str = "y") -> str:
    """SELECT-list fragment computing the 9 clamped neighbor z values and
    the Horn dz/dx, dz/dy (focal._horn_gradients with edge-extend padding =
    coordinate clamping). Relies on DuckDB lateral column references."""
    nb = {"za": (-1, -1), "zb": (0, -1), "zc": (1, -1),
          "zd": (-1, 0), "zf": (1, 0),
          "zg": (-1, 1), "zh": (0, 1), "zi": (1, 1)}
    defs = ",\n    ".join(
        f"({zf(_clamp(f'{x}+({dx})', w - 1), _clamp(f'{y}+({dy})', h - 1))}) AS {k}"
        for k, (dx, dy) in nb.items())
    return (f"{defs},\n"
            f"    ((zc + 2*zf + zi) - (za + 2*zd + zg)) / (8.0*{cellsize}) AS dzdx,\n"
            f"    ((zg + 2*zh + zi) - (za + 2*zb + zc)) / (8.0*{cellsize}) AS dzdy")


def hillshade_expr_sql(azimuth: float = 315.0, altitude: float = 45.0,
                       z_factor: float = 1.0) -> str:
    """focal.hillshade_np shade from dzdx/dzdy columns → uint8 as BIGINT
    (np.clip(255*shade,0,255).astype(uint8) truncates; shade ≥ 0 after the
    clip so FLOOR is the exact equivalent)."""
    azm = (360.0 - azimuth + 90.0) % 360.0
    return (f"CAST(FLOOR(LEAST(GREATEST(255.0 * ("
            f"cos(radians({90.0 - altitude}))*cos(atan({z_factor}*sqrt(dzdx*dzdx + dzdy*dzdy)))"
            f" + sin(radians({90.0 - altitude}))*sin(atan({z_factor}*sqrt(dzdx*dzdx + dzdy*dzdy)))"
            f"   * cos(radians({azm}) - atan2(dzdy, -dzdx))"
            f"), 0.0), 255.0)) AS BIGINT)")


def _grid_cte(w: int, h: int) -> str:
    return (f"grd AS (SELECT t1.x AS x, t2.y AS y "
            f"FROM generate_series(0, {w - 1}) t1(x), generate_series(0, {h - 1}) t2(y))")


def hillshade_sql(tiles_x: int, tiles_y: int, tile: int,
                  cellsize: float = fixtures.CELL_DEG) -> str:
    """img_hillshade oracle: per-tile integer sum of uint8 hillshade."""
    w, h = tiles_x * tile, tiles_y * tile
    return f"""
WITH {_grid_cte(w, h)},
px AS (
  SELECT x, y,
    {horn_defs_sql(w, h, cellsize)}
  FROM grd)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       CAST(SUM({hillshade_expr_sql()}) AS BIGINT) AS sum_shade
FROM px GROUP BY 1, 2 ORDER BY tx, ty"""


def chain_sql(tiles_x: int, tiles_y: int, tile: int,
              cellsize: float = fixtures.CELL_DEG) -> str:
    """img_chain oracle: hillshade → stretch [0,255]→[0,1] (engine stores
    f32 → CAST AS FLOAT) → per-tile sum rounded."""
    w, h = tiles_x * tile, tiles_y * tile
    return f"""
WITH {_grid_cte(w, h)},
px AS (
  SELECT x, y,
    {horn_defs_sql(w, h, cellsize)}
  FROM grd),
st AS (
  SELECT x, y,
    CAST(CAST({hillshade_expr_sql()} AS DOUBLE) / 255.0 * 1.0 + 0.0 AS FLOAT) AS v
  FROM px)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       ROUND(SUM(CAST(v AS DOUBLE)), 6) AS sum_v
FROM st GROUP BY 1, 2 ORDER BY tx, ty"""


def cti_sql(tiles_x: int, tiles_y: int, tile: int,
            cellsize: float = fixtures.CELL_DEG) -> str:
    """img_cti oracle: D8 steepest descent (hydro._D8 order, first-max
    tie-break via ROW_NUMBER), flow accumulation as a recursive CTE over
    the acyclic flow graph (acc = # of cells whose path reaches the cell,
    self included), CTI formula with the engine's f32 store quantization."""
    w, h = tiles_x * tile, tiles_y * tile
    offs = [(0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1)]
    dists = [1.0, 2 ** 0.5, 1.0, 2 ** 0.5] * 2
    d8 = [(k, dy, dx, d) for k, ((dy, dx), d) in enumerate(zip(offs, dists))]
    drops_union = " UNION ALL ".join(
        f"SELECT x, y, {k} AS d, "
        f"(({dem_z_sql('x', 'y')}) - ({dem_z_sql(_clamp(f'x+({dx})', w - 1), _clamp(f'y+({dy})', h - 1))}))"
        f" / {'1.0' if dist == 1.0 else 'sqrt(2.0)'} AS drop_v, "
        f"x+({dx}) AS nx, y+({dy}) AS ny FROM grd"
        for k, dy, dx, dist in d8)
    return f"""
WITH RECURSIVE {_grid_cte(w, h)},
drops AS ({drops_union}),
dirs AS (
  SELECT x, y, nx, ny FROM (
    SELECT x, y, nx, ny, drop_v,
           ROW_NUMBER() OVER (PARTITION BY x, y ORDER BY drop_v DESC, d ASC) AS rn,
           MAX(drop_v) OVER (PARTITION BY x, y) AS best
    FROM drops)
  WHERE rn = 1 AND best > 0),
reach AS (
  SELECT x AS sx, y AS sy, x AS cx, y AS cy FROM grd
  UNION ALL
  SELECT r.sx, r.sy, d.nx, d.ny
  FROM reach r JOIN dirs d ON r.cx = d.x AND r.cy = d.y
  WHERE d.nx BETWEEN 0 AND {w - 1} AND d.ny BETWEEN 0 AND {h - 1}),
acc AS (SELECT cx AS x, cy AS y, CAST(COUNT(*) AS DOUBLE) AS a FROM reach GROUP BY 1, 2),
slp AS (
  SELECT x, y,
    {horn_defs_sql(w, h, cellsize)}
  FROM grd),
ct AS (
  SELECT s.x, s.y,
    CAST(ln(((acc.a + 1.0) * {cellsize})
            / GREATEST(tan(atan(sqrt(dzdx*dzdx + dzdy*dzdy))), 0.000001)) AS FLOAT) AS cti_v
  FROM slp s JOIN acc ON acc.x = s.x AND acc.y = s.y)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       ROUND(SUM(CAST(cti_v AS DOUBLE)), 6) AS sum_cti
FROM ct GROUP BY 1, 2 ORDER BY tx, ty"""


# ----------------------------------------------------- stack fixtures ------

_QA_VALS = fixtures.QA_CLEAR_C1 + fixtures.QA_CLOUDY  # 7 values; first 4 clear


def _stack_obs_cte(n_scenes: int, n_times: int, tile: int) -> str:
    """fixtures.stack_images_pdf observations: (s, t, y, x, v, clear)."""
    return f"""obs AS (
  SELECT s, t, y, x,
         CAST((s*31 + t*17 + y*{tile} + x) % 4000 AS DOUBLE) AS v,
         ((s + t + y*{tile} + x) % {len(_QA_VALS)}) < 4 AS clear
  FROM generate_series(0, {n_scenes - 1}) ts(s),
       generate_series(0, {n_times - 1}) tt(t),
       generate_series(0, {tile - 1}) ty(y),
       generate_series(0, {tile - 1}) tx(x))"""


def stack_median_sql(n_scenes: int, n_times: int, tile: int = 16) -> str:
    """img_stack_median oracle: QA-masked per-pixel median (numpy
    nanmedian = quantile_cont 0.5 — identical interpolation), summed per
    scene. Medians of integers are exact halves → exact doubles."""
    return f"""
WITH {_stack_obs_cte(n_scenes, n_times, tile)},
med AS (
  SELECT s, y, x, median(v) AS m
  FROM obs WHERE clear GROUP BY s, y, x)
SELECT 'scene' || s AS scene_id, {n_times} AS n_rasters,
       SUM(m) AS sum_med
FROM med GROUP BY s ORDER BY scene_id"""


def dnbr_sql(n_scenes: int, tile: int = 16) -> str:
    """img_dnbr oracle: NBR(pre) − NBR(post) over the [value, qa] bands of
    the stack fixture (pre = t 0, post = t 1), engine f32 store mirrored
    by CAST AS FLOAT; exact-rational arithmetic → bit-identical."""
    qa_case = ("CASE ((s + {t} + y*%d + x) %% %d) %s ELSE 6816 END"
               % (tile, len(_QA_VALS),
                  " ".join(f"WHEN {ix} THEN {v}" for ix, v in enumerate(_QA_VALS[:-1]))))
    def nbr(t: int) -> str:
        v = f"CAST((s*31 + {t}*17 + y*{tile} + x) % 4000 AS DOUBLE)"
        qa = qa_case.format(t=t)
        return (f"(CASE WHEN ({v} + ({qa})) = 0 THEN 0.0"
                f" ELSE ({v} - ({qa})) / ({v} + ({qa})) END)")
    return f"""
WITH px AS (
  SELECT s, y, x,
         CAST({nbr(0)} - {nbr(1)} AS FLOAT) AS d
  FROM generate_series(0, {n_scenes - 1}) ts(s),
       generate_series(0, {tile - 1}) ty(y),
       generate_series(0, {tile - 1}) tx(x))
SELECT 'scene' || s AS scene_id, ROUND(SUM(CAST(d AS DOUBLE)), 6) AS sum_dnbr
FROM px GROUP BY s ORDER BY scene_id"""


# ------------------------------------------------------- zonal remap -------

def zonal_remap_px_sql(tiles_x: int, tiles_y: int, tile: int,
                       n_zones: int = 8, res: int = 15,
                       xmin: float = 10.0, ymax: float = 45.0,
                       cell: float = fixtures.CELL_DEG) -> str:
    """img_zonal_remap_px oracle. The zone band comes from the Z-order cell
    id of each pixel's lon/lat (grid.encode_sql — bit-exact); the zones
    interval table is an *input* (broadcast side) and is embedded as
    literal VALUES from fixtures.zones_pdf. Remap probe: zmin < v < zmax
    (null = open), null zval → 255, unknown zone → passthrough
    (all zones known here). Engine stores the remapped band as f32 →
    CAST AS FLOAT. NOTE: the query sets constant xmin/ymax per TILE, so
    lon/lat use tile-local coordinates (x % tile, y % tile)."""
    w, h = tiles_x * tile, tiles_y * tile
    zp = fixtures.zones_pdf(n_zones)
    rows = []
    for _, r in zp.iterrows():
        lit = lambda v: "NULL" if np.isnan(v) else repr(float(v))
        rows.append(f"({int(r.zone_id)}, {lit(r.zmin)}, {lit(r.zmax)}, {lit(r.zval)})")
    values = ", ".join(rows)
    lon = f"({xmin} + (CAST(x % {tile} AS DOUBLE) + 0.5) * {cell})"
    lat = f"({ymax} - (CAST(y % {tile} AS DOUBLE) + 0.5) * {cell})"
    cell_expr = grid.encode_sql(lon, lat, res, "duckdb")
    return f"""
WITH {_grid_cte(w, h)},
zones(zone_id, zmin, zmax, zval) AS (VALUES {values}),
px AS (
  SELECT x, y,
         CAST({dem_z_sql('x', 'y')} AS FLOAT) AS v,
         ((({cell_expr}) >> {grid.RES_BITS}) % {n_zones}) + 1 AS zone
  FROM grd),
rm AS (
  SELECT px.zone,
         CAST(CASE WHEN CAST(v AS DOUBLE) > COALESCE(z.zmin, -1e308)
                    AND CAST(v AS DOUBLE) < COALESCE(z.zmax, 1e308)
                   THEN COALESCE(z.zval, 255.0) ELSE CAST(v AS DOUBLE) END
              AS FLOAT) AS rv
  FROM px JOIN zones z ON px.zone = z.zone_id)
SELECT zone, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(CAST(rv AS DOUBLE)), 4) AS sum_v,
       ROUND(MIN(CAST(rv AS DOUBLE)), 6) AS min_v,
       ROUND(MAX(CAST(rv AS DOUBLE)), 6) AS max_v
FROM rm GROUP BY zone ORDER BY zone"""


# ---------------------------------------------------------- hex / LoD ------

def hexbin_sql(tiles_x: int, tiles_y: int, tile: int,
               size_deg: float = 0.01, cell: float = fixtures.CELL_DEG) -> str:
    """img_hexbin oracle: grid.hex_encode (axial coords + cube rounding)
    in SQL over per-pixel lon/lat; values from the f64 DEM. The query sets
    xmin = tx*0.032 + 10, ymax = 45 − ty*0.032 per tile."""
    w, h = tiles_x * tile, tiles_y * tile
    lon = (f"((CAST(x // {tile} AS DOUBLE)) * 0.032 + 10.0"
           f" + (CAST(x % {tile} AS DOUBLE) + 0.5) * {cell})")
    lat = (f"(45.0 - (CAST(y // {tile} AS DOUBLE)) * 0.032"
           f" - (CAST(y % {tile} AS DOUBLE) + 0.5) * {cell})")
    return f"""
WITH {_grid_cte(w, h)},
ax AS (
  SELECT x, y, {dem_z_sql('x', 'y')} AS v,
         (2.0/3.0) * {lon} / {size_deg} AS q,
         (-1.0/3.0 * {lon} + sqrt(3.0)/3.0 * {lat}) / {size_deg} AS r
  FROM grd),
cube AS (
  SELECT x, y, v, q AS cx, -q - r AS cy, r AS cz,
         round(q) AS rx0, round(-q - r) AS ry0, round(r) AS rz0,
         abs(round(q) - q) AS dx, abs(round(-q - r) - (-q - r)) AS dy,
         abs(round(r) - r) AS dz
  FROM ax),
hexed AS (
  -- cube rounding: fix_x = dx>dy AND dx>dz → rx = -ry-rz;
  -- fix_z = NOT fix_x AND dz>dy → rz = -rx-ry (rx unchanged on those
  -- rows since fix_x is false there, matching grid.hex_encode's
  -- sequential np.where updates)
  SELECT x, y, v,
         CAST(CASE WHEN dx > dy AND dx > dz THEN -ry0 - rz0 ELSE rx0 END AS BIGINT) AS qi,
         CAST(CASE WHEN NOT (dx > dy AND dx > dz) AND dz > dy
                   THEN -rx0 - ry0 ELSE rz0 END AS BIGINT) AS ri
  FROM cube)
SELECT (qi << 32) | (ri & 4294967295) AS hex_id,
       ROUND(SUM(v) / COUNT(*), 6) AS mean,
       CAST(COUNT(*) AS BIGINT) AS n_px
FROM hexed GROUP BY 1 ORDER BY hex_id"""


def pyramid_sql(tiles_x: int, tiles_y: int, tile: int, levels: int = 2) -> str:
    """img_pyramid oracle: per-level tile counts + mean of per-tile means.
    Level L pixel = f32(mean of the 2×2 block of level L−1), mirroring
    pyramid_level's f64-mosaic → block mean → f32 encode chain."""
    w, h = tiles_x * tile, tiles_y * tile
    lvl_sql = [f"SELECT x, y, {dem_z_sql('x', 'y')} AS v FROM grd"]
    for L in range(1, levels + 1):
        lvl_sql.append(
            f"SELECT x // 2 AS x, y // 2 AS y, "
            f"CAST(CAST(SUM(v) AS DOUBLE) / 4.0 AS FLOAT) AS v "
            f"FROM l{L - 1} GROUP BY 1, 2")
    ctes = ",\n".join(f"l{i} AS ({s})" for i, s in enumerate(lvl_sql))
    per_level = " UNION ALL ".join(
        f"""SELECT {L} AS level, CAST(COUNT(*) AS BIGINT) AS n_tiles,
        ROUND(AVG(tm), 6) AS mean_px FROM (
          SELECT x // {tile} AS tx, y // {tile} AS ty,
                 SUM(CAST(v AS DOUBLE)) / COUNT(*) AS tm
          FROM l{L} GROUP BY 1, 2)"""
        for L in range(levels + 1))
    return f"WITH {_grid_cte(w, h)},\n{ctes}\n{per_level} ORDER BY level"


# ---------------------------------------------- more terrain / pointwise ---

def aspect_slope_class_sql(tiles_x: int, tiles_y: int, tile: int,
                           cellsize: float = fixtures.CELL_DEG) -> str:
    """w2_aspect_slope oracle: Horn slope/aspect → 2-digit class codes
    (focal.aspect_slope_class_np edges), per-code pixel counts + code sums
    (zonal_statistics_px over the code band)."""
    w, h = tiles_x * tile, tiles_y * tile
    # slope_deg = degrees(atan(hypot)); aspect compass; np.digitize edges
    return f"""
WITH {_grid_cte(w, h)},
px AS (
  SELECT x, y,
    {horn_defs_sql(w, h, cellsize)}
  FROM grd),
sa AS (
  SELECT x, y,
    degrees(atan(sqrt(dzdx*dzdx + dzdy*dzdy))) AS slope_deg,
    CASE WHEN dzdx = 0 AND dzdy = 0 THEN -1.0
         ELSE (CASE WHEN degrees(atan2(dzdy, -dzdx)) < 90.0
                    THEN 90.0 - degrees(atan2(dzdy, -dzdx))
                    ELSE 450.0 - degrees(atan2(dzdy, -dzdx)) END) % 360.0
    END AS aspect_deg
  FROM px),
cls AS (
  SELECT
    CASE WHEN slope_deg < 1.0 THEN 10
         ELSE (CASE WHEN slope_deg < 5.0 THEN 1
                    WHEN slope_deg < 20.0 THEN 2 ELSE 3 END + 1) * 10
              + ((CASE WHEN aspect_deg % 360.0 < 22.5 THEN 0
                       WHEN aspect_deg % 360.0 < 67.5 THEN 1
                       WHEN aspect_deg % 360.0 < 112.5 THEN 2
                       WHEN aspect_deg % 360.0 < 157.5 THEN 3
                       WHEN aspect_deg % 360.0 < 202.5 THEN 4
                       WHEN aspect_deg % 360.0 < 247.5 THEN 5
                       WHEN aspect_deg % 360.0 < 292.5 THEN 6
                       WHEN aspect_deg % 360.0 < 337.5 THEN 7
                       ELSE 8 END) % 8) + 1
    END AS code
  FROM sa)
SELECT CAST(code AS BIGINT) AS zone, CAST(COUNT(*) AS BIGINT) AS n
FROM cls GROUP BY code ORDER BY zone"""


def mdhillshade_sql(tiles_x: int, tiles_y: int, tile: int,
                    cellsize: float = fixtures.CELL_DEG) -> str:
    """w7_mdhillshade oracle: weighted 6-azimuth hillshade, uint8 per
    azimuth then trunc of the clipped weighted sum — term order mirrors
    the engine's accumulation loop exactly."""
    w, h = tiles_x * tile, tiles_y * tile
    azs = (225.0, 270.0, 315.0, 360.0, 45.0, 90.0)
    wts = (0.1, 0.2, 0.25, 0.2, 0.15, 0.1)
    acc = " + ".join(f"{wt} * CAST({hillshade_expr_sql(azimuth=az)} AS DOUBLE)"
                     for az, wt in zip(azs, wts))
    return f"""
WITH {_grid_cte(w, h)},
px AS (
  SELECT x, y,
    {horn_defs_sql(w, h, cellsize)}
  FROM grd),
md AS (
  SELECT x, y,
    CAST(FLOOR(LEAST(GREATEST({acc}, 0.0), 255.0)) AS BIGINT) AS shade
  FROM px)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       CAST(SUM(shade) AS BIGINT) AS sum_shade
FROM md GROUP BY 1, 2 ORDER BY tx, ty"""


def _kind1_px_cte(n_images: int) -> str:
    """Lossless kind-1 (red/NIR) image pixels as a CTE."""
    wc, hc = _img_dims_case()
    return f"""imgs AS (
  SELECT i, {wc} AS w, {hc} AS h
  FROM generate_series(0, {n_images - 1}) t(i)
  WHERE {_LOSSLESS_KIND1}),
px AS (
  SELECT i, x, y,
         CAST((i*7 + (y*w+x)) % 251 AS DOUBLE) AS red,
         CAST((i*13 + (y*w+x)) % 241 AS DOUBLE) AS nir
  FROM imgs, generate_series(0, 127) tx(x), generate_series(0, 127) ty(y)
  WHERE x < w AND y < h)"""


def windchill_sql(n_images: int, t_units: str = "f", w_units: str = "mph",
                  out_units: str = "f") -> str:
    """f4_windchill oracle over kind-1 images (red = temperature, nir =
    wind speed): NWS regression where T ≤ 50 °F and wind > 3 mph, else T,
    with the reference's unit conversions (Windchill.py:101-126) mirrored
    exactly; engine stores f32."""
    ta, tb = {"f": ("1.0", "0.0"), "k": ("1.8", "-459.67"),
              "c": ("1.8", "32.0")}[t_units.lower()]
    wk = {"mph": "1.0", "m/s": "(3600.0/1609.344)", "kph": "(1.0/1.609344)",
          "knots": "(1.0/1.15077945)", "ft/s": "(5280.0/3600.0)"}[w_units.lower()]
    t = f"(red * {ta} + {tb})"
    w = f"(nir * {wk})"
    wc_expr = (f"35.74 + 0.6215*{t} - 35.75*pow(GREATEST({w}, 0.0), 0.16)"
               f" + 0.4275*{t}*pow(GREATEST({w}, 0.0), 0.16)")
    gated = f"(CASE WHEN {t} <= 50.0 AND {w} > 3.0 THEN {wc_expr} ELSE {t} END)"
    out_expr = {"f": gated, "k": f"(({gated}) + 459.67) / 1.8",
                "c": f"(({gated}) - 32.0) / 1.8"}[out_units.lower()]
    return f"""
WITH {_kind1_px_cte(n_images)},
v AS (
  SELECT i, CAST({out_expr} AS FLOAT) AS wcv
  FROM px)
SELECT printf('img%09d', i) AS image_id,
       ROUND(SUM(CAST(wcv AS DOUBLE)), 3) AS sum_wc
FROM v GROUP BY i ORDER BY image_id"""


def heat_index_sql(n_images: int) -> str:
    """f5_heat_index oracle over kind-1 images rescaled to plausible
    ranges (T = 60 + red·0.2 °F, RH = nir·(100/240) %), with the strict
    >80 gate and both Rothfusz adjustments (pointwise.heat_index)."""
    t = "(60.0 + red * 0.2)"
    r = "(nir * (100.0/240.0))"
    full = (f"-42.379 + 2.04901523*{t} + 10.14333127*{r} - 0.22475541*{t}*{r}"
            f" - 6.83783e-3*{t}*{t} - 5.481717e-2*{r}*{r}"
            f" + 1.22874e-3*{t}*{t}*{r} + 8.5282e-4*{t}*{r}*{r}"
            f" - 1.99e-6*{t}*{t}*{r}*{r}")
    simple = f"(0.5 * ({t} + 61.0 + ({t} - 68.0) * 1.2 + {r} * 0.094))"
    low = (f"(CASE WHEN 0.5*({simple} + {t}) > 80.0 AND {r} < 13.0"
           f" AND {t} >= 80.0 AND {t} <= 112.0"
           f" THEN ((13.0 - {r})/4.0) * sqrt(GREATEST(17.0 - abs({t} - 95.0), 0.0)/17.0)"
           f" ELSE 0.0 END)")
    high = (f"(CASE WHEN 0.5*({simple} + {t}) > 80.0 AND {r} > 85.0"
            f" AND {t} >= 80.0 AND {t} <= 87.0"
            f" THEN (({t} - 85.0)/10.0) * ((87.0 - {t})/5.0) ELSE 0.0 END)")
    return f"""
WITH {_kind1_px_cte(n_images)},
v AS (
  SELECT i, CAST(CASE WHEN 0.5*({simple} + {t}) > 80.0
                      THEN ({full}) - {low} + {high}
                      ELSE {simple} END AS FLOAT) AS hi
  FROM px)
SELECT printf('img%09d', i) AS image_id,
       ROUND(SUM(CAST(hi AS DOUBLE)), 3) AS sum_hi
FROM v GROUP BY i ORDER BY image_id"""


def unmixing_sql(n_images: int, a00: float, a01: float,
                 a10: float, a11: float) -> str:
    """f11_unmixing oracle: 2-endmember spectral unmixing of [red, nir] is
    a square exact solve — Cramer's rule in SQL vs the engine's batched
    lstsq (SVD) agree to ~1e-12, far inside the 3-decimal rounding."""
    det = f"({a00}*{a11} - {a01}*{a10})"
    c0 = f"(({a11}*red - {a01}*nir) / {det})"
    c1 = f"((-{a10}*red + {a00}*nir) / {det})"
    return f"""
WITH {_kind1_px_cte(n_images)},
v AS (SELECT i, CAST({c0} AS FLOAT) AS c0, CAST({c1} AS FLOAT) AS c1 FROM px)
SELECT printf('img%09d', i) AS image_id,
       ROUND(SUM(CAST(c0 AS DOUBLE)), 3) AS sum_c0,
       ROUND(SUM(CAST(c1 AS DOUBLE)), 3) AS sum_c1
FROM v GROUP BY i ORDER BY image_id"""


def vineyard_sql(n_images: int) -> str:
    """f8_vineyard oracle over kind-2 images (bands 0/1/2 as
    elev/slope/aspect): integer threshold-score sums — exact."""
    wc, hc = _img_dims_case()
    e = "CAST((i*3 + (y*w+x)) % 10000 AS DOUBLE)"
    s = "CAST((i*4 + (y*w+x)*2) % 10000 AS DOUBLE)"
    a = "CAST((i*5 + (y*w+x)*3) % 10000 AS DOUBLE)"
    return f"""
WITH imgs AS (
  SELECT i, {wc} AS w, {hc} AS h
  FROM generate_series(0, {n_images - 1}) t(i) WHERE i % 4 = 2),
px AS (
  SELECT i,
         (CASE WHEN {e} > 30 AND {e} < 400 THEN 1 ELSE 0 END
          + CASE WHEN {s} > 5 AND {s} < 60 THEN 1 ELSE 0 END
          + CASE WHEN {a} > 0 AND {a} < 200 THEN 1 ELSE 0 END) AS score
  FROM imgs, generate_series(0, 127) tx(x), generate_series(0, 127) ty(y)
  WHERE x < w AND y < h)
SELECT printf('img%09d', i) AS image_id,
       CAST(SUM(score) AS BIGINT) AS sum_score
FROM px GROUP BY i ORDER BY image_id"""


def fuzzy_gaussian_sql(tiles_x: int, tiles_y: int, tile: int,
                       midpoint: float, spread: float) -> str:
    """f6_fuzzy oracle: gaussian membership exp(−spread·(z−m)²) on the f8
    DEM, clipped to [0,1], f32-stored, per-tile sums."""
    w, h = tiles_x * tile, tiles_y * tile
    return f"""
WITH {_grid_cte(w, h)},
v AS (
  SELECT x, y,
    CAST(LEAST(GREATEST(exp(-{spread} * ({dem_z_sql('x', 'y')} - {midpoint})
                             * ({dem_z_sql('x', 'y')} - {midpoint})), 0.0), 1.0)
         AS FLOAT) AS m
  FROM grd)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       ROUND(SUM(CAST(m AS DOUBLE)), 5) AS sum_m
FROM v GROUP BY 1, 2 ORDER BY tx, ty"""


def cubism_sql(tiles_x: int, tiles_y: int, tile: int, block: int = 8) -> str:
    """f15_cubism oracle: every block×block cell painted with its mean
    (f32) — per-tile sum = Σ_blocks n_px·f32(block mean). Blocks are
    tile-local (the engine op runs per tile)."""
    w, h = tiles_x * tile, tiles_y * tile
    return f"""
WITH {_grid_cte(w, h)},
b AS (
  SELECT x // {tile} AS tx, y // {tile} AS ty,
         (x % {tile}) // {block} AS bx, (y % {tile}) // {block} AS by,
         COUNT(*) AS n,
         CAST(SUM({dem_z_sql('x', 'y')}) / COUNT(*) AS FLOAT) AS bm
  FROM grd GROUP BY 1, 2, 3, 4)
SELECT CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
       ROUND(SUM(CAST(bm AS DOUBLE) * n), 5) AS sum_v
FROM b GROUP BY 1, 2 ORDER BY tx, ty"""


def percent_above_stack_sql(n_scenes: int, n_times: int, tile: int,
                            threshold: float) -> str:
    """a7_percent_above_px oracle: mean over acquisitions of the per-tile
    fraction of pixels ≥ threshold, ×100 (stack.percent_above_threshold)."""
    return f"""
WITH {_stack_obs_cte(n_scenes, n_times, tile)},
fr AS (
  SELECT s, t, AVG(CASE WHEN v >= {threshold} THEN 1.0 ELSE 0.0 END) AS frac
  FROM obs GROUP BY s, t)
SELECT 'scene' || s AS scene_id, ROUND(AVG(frac) * 100.0, 6) AS pct,
       CAST(COUNT(*) AS BIGINT) AS n_rasters
FROM fr GROUP BY s ORDER BY scene_id"""


def ngram_jaccard_sql(minhash_pairs_sql: str, k: int = 3,
                      threshold: float = 0.5) -> str:
    """dedup_ngram_jaccard oracle: exact character-k-gram Jaccard on the
    MinHash-LSH candidate pairs (never all-pairs) — list_distinct/
    list_intersect mirror array_distinct/array_intersect."""
    grams = (f"list_distinct(list_transform(range(1, greatest(length(text) - {k - 1}, 1) + 1),"
             f" j -> substring(text, j, {k})))")
    return f"""
WITH cand AS ({minhash_pairs_sql}),
g AS (SELECT doc_id, {grams} AS grams FROM documents),
j AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS inter,
         CAST(len(ga.grams) + len(gb.grams)
              - len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) AS uni
  FROM cand c
  JOIN g ga ON ga.doc_id = c.id_a
  JOIN g gb ON gb.doc_id = c.id_b)
SELECT id_a, id_b, ROUND(inter / uni, 6) AS jaccard
FROM j WHERE ROUND(inter / uni, 6) >= {threshold}
ORDER BY id_a, id_b"""


def minhash_signature(text_col: str, k: int = 5, n_hashes: int = 8):
    """Spark reference for the minhash signature: a Spark SQL array
    expression of the same (A, B) family, shingles and polynomial hash as
    the DuckDB form :func:`dedup.minhash_sql`. Tests compare it with that
    form and replay ``dedup.minhash_lsh_candidates``' banding over it."""
    from pyspark.sql import functions as F
    from .dedup import MINHASH_P, _polyhash_sql, minhash_family
    A, B = minhash_family(n_hashes)
    shingles = (f"array_distinct(transform(sequence(1, greatest(length({text_col})"
                f" - {k - 1}, 1)), i -> substring({text_col}, i, {k})))")
    return F.array(*[F.expr(
        f"array_min(transform({shingles},"
        f" s -> ({a}L * {_polyhash_sql('s', k)} + {b}L) % {MINHASH_P}))").alias(f"h{i}")
        for i, (a, b) in enumerate(zip(A, B))])


# ------------------------------------------------------ image queries ------

def _img_dims_case() -> tuple[str, str]:
    return ("CASE i % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 128 END",
            "CASE (i+1) % 3 WHEN 0 THEN 32 WHEN 1 THEN 64 ELSE 128 END")


_LOSSLESS_KIND1 = "((i % 4) = 1 AND ((i // 4) % 4) <> 3)"  # fmt != 'dct'


def ndvi_zonal_sql(n_images: int, cell_res: int = 3) -> str:
    """img_ndvi_zonal oracle over the lossless red/NIR images (kind 1,
    fmt ≠ dct — the lossy tier's decode round-trip is gated separately by
    PSNR tests): per-pixel f32 NDVI summed per image, rolled up on the
    res-3 Z-order cell of the image centroid."""
    wc, hc = _img_dims_case()
    cell = grid.encode_sql(image_lon_sql("i"), image_lat_sql("i"), cell_res, "duckdb")
    return f"""
WITH imgs AS (
  SELECT i, {wc} AS w, {hc} AS h
  FROM generate_series(0, {n_images - 1}) t(i)
  WHERE {_LOSSLESS_KIND1}),
px AS (
  SELECT i, w, h, x, y,
         CAST((i*7 + (y*w+x)) % 251 AS DOUBLE) AS red,
         CAST((i*13 + (y*w+x)) % 241 AS DOUBLE) AS nir
  FROM imgs, generate_series(0, 127) tx(x), generate_series(0, 127) ty(y)
  WHERE x < w AND y < h),
nd AS (
  SELECT i, SUM(CAST(CASE WHEN nir + red = 0 THEN 0.0
                          ELSE CAST((nir - red) / (nir + red) AS FLOAT)
                     END AS DOUBLE)) AS ndvi_sum
  FROM px GROUP BY i)
SELECT {cell} AS cell, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(ndvi_sum), 4) AS sum_ndvi
FROM nd GROUP BY 1 ORDER BY cell"""


def knn_classify_sql(n_images: int, train: list[tuple[float, float, int]]) -> str:
    """img_knn_classify oracle (lossless kind-1 images): per-pixel 1-NN on
    (red, nir) vs the broadcast training points; exact integer distances;
    tie-break = smallest training index (the engine uses a stable sort)."""
    wc, hc = _img_dims_case()
    t_values = ", ".join(f"({j}, {tx}, {ty}, {lab})"
                         for j, (tx, ty, lab) in enumerate(train))
    return f"""
WITH imgs AS (
  SELECT i, {wc} AS w, {hc} AS h
  FROM generate_series(0, {n_images - 1}) t(i)
  WHERE {_LOSSLESS_KIND1}),
train(j, tx, ty, lab) AS (VALUES {t_values}),
px AS (
  SELECT i, x, y,
         CAST((i*7 + (y*w+x)) % 251 AS BIGINT) AS red,
         CAST((i*13 + (y*w+x)) % 241 AS BIGINT) AS nir
  FROM imgs, generate_series(0, 127) tx(x), generate_series(0, 127) ty(y)
  WHERE x < w AND y < h),
cls AS (
  SELECT i, x, y, arg_min(lab, ((red-tx)*(red-tx) + (nir-ty)*(nir-ty)) * 16 + j) AS c
  FROM px, train GROUP BY i, x, y)
SELECT printf('img%09d', i) AS image_id,
       CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_c2
FROM cls GROUP BY i ORDER BY image_id"""


@lru_cache(maxsize=4)
def _image_phashes(n_images: int) -> tuple:
    return tuple(codec.phash64(fixtures.gen_pixels(i)) for i in range(n_images))


def phash_pairs_sql(n_images: int, max_hamming: int, band_bits: int = 16) -> str:
    """img_phash_dedup oracle. The phash column is an *input* (stored in
    the images table, computed by the deterministic fixture generator);
    recomputing the 32×32 DCT in SQL is numerically unstable because the
    structured fixtures have mathematically-tied coefficients whose
    sign-vs-median bits flip under a different summation order (measured:
    403/600). So the phashes are embedded as VALUES from the same public
    fixture code, and the query's actual logic — 4×16-bit band-bucket LSH
    candidate generation + Hamming verification — runs in SQL."""
    from .dedup import band_masks
    ph = _image_phashes(n_images)
    values = ", ".join(f"('img{i:09d}', CAST({p} AS BIGINT))"
                       for i, p in enumerate(ph))
    # SAME mask derivation as the engine (dedup.band_masks) — the band set
    # is part of the semantics (it decides candidate completeness), so the
    # oracle must replicate it from the single source of truth
    masks = band_masks(max_hamming, band_bits)
    share = " OR ".join(f"(a.ph & CAST({m} AS BIGINT)) = (b.ph & CAST({m} AS BIGINT))"
                        for m in masks)
    return f"""
WITH imgs(id, ph) AS (VALUES {values})
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM imgs a JOIN imgs b ON a.id < b.id
WHERE ({share}) AND bit_count(xor(a.ph, b.ph)) <= {max_hamming}
ORDER BY id_a, id_b"""


def crossmodal_pairs_sql(n_images: int, max_hamming: int, cap_mod: int,
                         band_bits: int = 16) -> str:
    """Pair set for dedup_crossmodal (wrap with dedup.components_sql):
    UNION of (a) exact-caption star edges — the contract query derives a
    colliding caption key ``i % cap_mod`` from the image index, replayed
    here from the same ids — and (b) the phash band-LSH + Hamming pairs
    of phash_pairs_sql. Same embedded-phash rationale as there."""
    from .dedup import band_masks
    ph = _image_phashes(n_images)
    values = ", ".join(f"('img{i:09d}', CAST({p} AS BIGINT))"
                       for i, p in enumerate(ph))
    masks = band_masks(max_hamming, band_bits)
    share = " OR ".join(f"(a.ph & CAST({m} AS BIGINT)) = (b.ph & CAST({m} AS BIGINT))"
                        for m in masks)
    return f"""
WITH imgs(id, ph) AS (VALUES {values}),
cap AS (SELECT id, CAST(substr(id, 4, 9) AS BIGINT) % {cap_mod} AS ck FROM imgs),
capm AS (SELECT ck, MIN(id) AS mn, COUNT(*) AS n FROM cap GROUP BY ck),
allp AS (
  -- the UNION lives INSIDE a CTE: a top-level set operation in a body
  -- nested under WITH RECURSIVE trips DuckDB's base/recursive-term
  -- split and the inner CTEs go out of scope
  SELECT m.mn AS id_a, c.id AS id_b
  FROM cap c JOIN capm m USING (ck)
  WHERE m.n > 1 AND c.id <> m.mn
  UNION ALL
  SELECT a.id AS id_a, b.id AS id_b
  FROM imgs a JOIN imgs b ON a.id < b.id
  WHERE ({share}) AND bit_count(xor(a.ph, b.ph)) <= {max_hamming})
SELECT id_a, id_b FROM allp"""


# ------------------------------------------------------------ flagship -----

@lru_cache(maxsize=2)
def _flagship_feature_values(n_images: int) -> str:
    """Per-image decode features (px_mean, px_std, phash_ham) computed
    single-process with the same public codec/fixture code — these include
    the lossy-DCT encode→decode round trip, which is not reproducible in
    SQL (quantization of near-tied coefficients); the distributed parts
    (lon/lat, cell encode, PIP, aggregation) run in SQL."""
    rows = []
    for i in range(n_images):
        px = fixtures.gen_pixels(i)
        stored = codec.phash64(px)
        dec = codec.decode(codec.encode(px, fixtures.tile_fmt(i)))
        ham = codec.hamming64(codec.phash64(dec), stored)
        f = dec.astype(np.float64)
        rows.append(f"({i}, {f.mean()!r}, {f.std()!r}, {ham})")
    return ", ".join(rows)


def _aoi_vertices_sql(n_aoi: int) -> str:
    """CTEs generating the aoi_ring vertex lists: per AOI, nv angles are
    hashed, sorted ascending (np.sort), and the j-th *sorted* angle pairs
    with the j-th radius hash (fixtures.aoi_ring)."""
    cx = f"CASE WHEN k = 0 THEN {fixtures.HOT_CENTER[0]} ELSE {unit_sql('k', 11)} * 340.0 - 170.0 END"
    cy = f"CASE WHEN k = 0 THEN {fixtures.HOT_CENTER[1]} ELSE {unit_sql('k', 12)} * 150.0 - 75.0 END"
    rr = (f"CASE WHEN k = 0 THEN 3.0 ELSE 0.05 + {unit_sql('k', 13)} * {unit_sql('k', 13)} * 4.95 END")
    nv = f"CASE WHEN k = 0 THEN 8 ELSE 5 + CAST(FLOOR({unit_sql('k', 14)} * 8) AS INT) END"
    return f"""aois AS (
  SELECT k, {cx} AS cx, {cy} AS cy, {rr} AS r, {nv} AS nv
  FROM generate_series(0, {n_aoi - 1} ) tk(k)),
raw_ang AS (
  SELECT a.k, j, {unit_sql('(j + a.k * 1000)', 15)} * 2 * pi() AS ang
  FROM aois a, generate_series(0, 11) tj(j) WHERE j < a.nv),
sorted_ang AS (
  SELECT k, ang, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ang) - 1 AS j
  FROM raw_ang),
verts AS (
  SELECT s.k, s.j,
         a.cx + a.r * (0.6 + 0.4 * {unit_sql('(s.j + s.k * 2000)', 16)}) * cos(s.ang) AS vx,
         a.cy + a.r * (0.6 + 0.4 * {unit_sql('(s.j + s.k * 2000)', 16)}) * sin(s.ang) AS vy
  FROM sorted_ang s JOIN aois a ON a.k = s.k),
edges AS (
  SELECT v0.k, v0.vx AS x0, v0.vy AS y0, v1.vx AS x1, v1.vy AS y1
  FROM verts v0
  JOIN aois a ON a.k = v0.k
  JOIN verts v1 ON v1.k = v0.k AND v1.j = (v0.j + 1) % a.nv)"""


def flagship_sql(n_images: int, n_aoi: int, cell_res: int = 7) -> str:
    """img_flagship oracle: per-image stats embedded (see
    _flagship_feature_values), lon/lat + cell ids + even-odd PIP + zonal
    aggregation in SQL (spatial.point_in_polygon_np crossing rule:
    (y0 > py) != (y1 > py) AND px < x0 + (py-y0)(x1-x0)/(y1-y0))."""
    return f"""
WITH feats(i, px_mean, px_std, phash_ham) AS (VALUES {_flagship_feature_values(n_images)}),
pts AS (
  SELECT i, px_mean, px_std, phash_ham,
         {image_lon_sql('i')} AS lon, {image_lat_sql('i')} AS lat
  FROM feats),
cells AS (
  SELECT *, {grid.encode_sql('lon', 'lat', cell_res, 'duckdb')} AS cell FROM pts),
{_aoi_vertices_sql(n_aoi)},
hits AS (
  SELECT p.i, e.k
  FROM cells p JOIN edges e
    ON (e.y0 > p.lat) <> (e.y1 > p.lat)
  GROUP BY p.i, e.k
  HAVING SUM(CASE WHEN p.lon < e.x0 + (p.lat - e.y0) * (e.x1 - e.x0) / (e.y1 - e.y0)
                  THEN 1 ELSE 0 END) % 2 = 1),
assigned AS (
  SELECT h.k AS aoi_id, c.* FROM hits h JOIN cells c ON c.i = h.i)
SELECT CAST(aoi_id AS BIGINT) AS aoi_id,
       CAST(COUNT(*) AS BIGINT) AS n_images,
       ROUND(AVG(px_mean), 6) AS mean_px,
       ROUND(AVG(px_std), 6) AS mean_std,
       CAST(COUNT(DISTINCT cell) AS BIGINT) AS n_cells,
       CAST(MAX(phash_ham) AS INT) AS max_phash_ham,
       CAST(SUM(CASE WHEN phash_ham < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
FROM assigned GROUP BY aoi_id ORDER BY aoi_id"""


# ------------------------------------------------- batch-2 widened ops -----

def rank_median_sql(tiles_x: int, tiles_y: int, tile: int) -> str:
    """w4_rank_median_px oracle: 3×3 focal median over the f8 DEM. The
    median of 9 values is the 5th order statistic exactly (np.median on an
    odd count picks the middle element — no interpolation), so
    list_sort(...)[5] is bit-exact."""
    w, h = tiles_x * tile, tiles_y * tile
    nine = ", ".join(
        dem_z_sql(_clamp(f"x+({dx})", w - 1), _clamp(f"y+({dy})", h - 1))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
WITH {_grid_cte(w, h)},
m AS (
  SELECT x, y, CAST(list_sort([{nine}])[5] AS FLOAT) AS med
  FROM grd)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       ROUND(SUM(CAST(med AS DOUBLE)), 5) AS sum_med
FROM m GROUP BY 1, 2 ORDER BY tx, ty"""


def calculator_sql(n_images: int) -> str:
    """f13_calculator oracle: the RasterCalculator expression
    Sin(a)·Cos(b) + Sqrt(Abs(a−b)) over [red, nir]."""
    return f"""
WITH {_kind1_px_cte(n_images)},
v AS (SELECT i, CAST(sin(red)*cos(nir) + sqrt(abs(red - nir)) AS FLOAT) AS c
      FROM px)
SELECT printf('img%09d', i) AS image_id,
       ROUND(SUM(CAST(c AS DOUBLE)), 3) AS sum_c
FROM v GROUP BY i ORDER BY image_id"""


def remap_sql(tiles_x: int, tiles_y: int, tile: int,
              intervals: list[tuple[float, float, float]],
              default: float = 0.0) -> str:
    """f14_remap oracle: interval remap on the f8 DEM; the engine assigns
    intervals sequentially (later intervals overwrite), so the CASE checks
    them in REVERSE order. Integer targets → exact sums."""
    w, h = tiles_x * tile, tiles_y * tile
    z = dem_z_sql("x", "y")
    cases = " ".join(f"WHEN {z} >= {lo} AND {z} < {hi} THEN {val}"
                     for lo, hi, val in reversed(intervals))
    return f"""
WITH {_grid_cte(w, h)},
v AS (SELECT x, y, CASE {cases} ELSE {default} END AS r FROM grd)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       CAST(SUM(r) AS BIGINT) AS sum_r
FROM v GROUP BY 1, 2 ORDER BY tx, ty"""


def vector_field_sql(n_images: int) -> str:
    """f14_vector_field oracle: (u, v) = (red, nir) → magnitude +
    meteorological direction, engine f32 stores."""
    return f"""
WITH {_kind1_px_cte(n_images)},
v AS (
  SELECT i,
         CAST(sqrt(red*red + nir*nir) AS FLOAT) AS mag,
         CAST((degrees(atan2(red, nir)) + 180.0) % 360.0 AS FLOAT) AS dir
  FROM px)
SELECT printf('img%09d', i) AS image_id,
       ROUND(SUM(CAST(mag AS DOUBLE)), 3) AS sum_mag,
       ROUND(SUM(CAST(dir AS DOUBLE)), 3) AS sum_dir
FROM v GROUP BY i ORDER BY image_id"""


def arith_div_sql(n_images: int) -> str:
    """f3_arith_div oracle: red/nir band ratio with the engine's
    nan/inf→0 policy (nir = 0 → 0)."""
    return f"""
WITH {_kind1_px_cte(n_images)},
v AS (SELECT i, CAST(CASE WHEN nir = 0 THEN 0.0 ELSE red / nir END AS FLOAT) AS q
      FROM px)
SELECT printf('img%09d', i) AS image_id,
       ROUND(SUM(CAST(q AS DOUBLE)), 3) AS sum_q
FROM v GROUP BY i ORDER BY image_id"""


def month_synthesis_sql(n_scenes: int, n_times: int, tile: int,
                        month: int) -> str:
    """a6_month_synthesis oracle: mean composite over the acquisitions of
    one calendar month (acq_month = t%12 + 1); u2 means are exact halves."""
    ts = [t for t in range(n_times) if t % 12 + 1 == month]
    avg = "(" + " + ".join(
        f"CAST((s*31 + {t}*17 + y*{tile} + x) % 4000 AS DOUBLE)" for t in ts) \
        + f") / {float(len(ts))}"
    return f"""
WITH px AS (
  SELECT s, y, x, CAST({avg} AS FLOAT) AS m
  FROM generate_series(0, {n_scenes - 1}) ts(s),
       generate_series(0, {tile - 1}) ty(y),
       generate_series(0, {tile - 1}) tx(x))
SELECT 'scene' || s AS scene_id, {len(ts)} AS n_rasters,
       SUM(CAST(m AS DOUBLE)) AS sum_m
FROM px GROUP BY s ORDER BY scene_id"""


def fuzzy_mssmall_sql(tiles_x: int, tiles_y: int, tile: int,
                      spread: float = 2.0) -> str:
    """a10_fuzzy_mssmall oracle: the two-pass stats-dependent fuzzy — μ, σ
    are population stats over ALL scene pixels (pass 1), the membership is
    where(x ≤ μ, 1, s·σ/(|x−μ|+s·σ)) (pass 2). Both passes in one SQL via
    a cross-joined scalar aggregate."""
    w, h = tiles_x * tile, tiles_y * tile
    z = dem_z_sql("x", "y")
    return f"""
WITH {_grid_cte(w, h)},
stats AS (
  SELECT AVG({z}) AS mu,
         sqrt(AVG(({z}) * ({z})) - AVG({z}) * AVG({z})) AS sd
  FROM grd),
v AS (
  SELECT x, y,
    CAST(LEAST(GREATEST(
      CASE WHEN {z} <= mu THEN 1.0
           ELSE ({spread} * sd) / GREATEST(abs({z} - mu) + {spread} * sd, 1e-12)
      END, 0.0), 1.0) AS FLOAT) AS m
  FROM grd, stats)
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       ROUND(SUM(CAST(m AS DOUBLE)), 5) AS sum_m
FROM v GROUP BY 1, 2 ORDER BY tx, ty"""


def nearest_labels_sql(n_images: int,
                       train: list[tuple[float, float, int]], k: int) -> str:
    """j6_nearest_labels oracle: the k nearest training labels per pixel
    (exact integer distances, ties by training index — the engine's
    stable argsort), summed per image per rank band."""
    t_values = ", ".join(f"({j}, {tx}, {ty}, {lab})"
                         for j, (tx, ty, lab) in enumerate(train))
    band_cols = ", ".join(
        f"ROUND(SUM(CASE WHEN rn = {r + 1} THEN CAST(lab AS DOUBLE) ELSE 0 END), 1) AS sum_b{r}"
        for r in range(k))
    return f"""
WITH {_kind1_px_cte(n_images)},
train(j, tx, ty, lab) AS (VALUES {t_values}),
ranked AS (
  SELECT i, x, y, lab,
         ROW_NUMBER() OVER (PARTITION BY i, x, y
             ORDER BY (red-tx)*(red-tx) + (nir-ty)*(nir-ty), j) AS rn
  FROM px, train)
SELECT printf('img%09d', i) AS image_id, {band_cols}
FROM ranked WHERE rn <= {k} GROUP BY i ORDER BY image_id"""


def chuck_close_sql(tiles_x: int, tiles_y: int, tile: int,
                    block: int = 8, levels: int = 4) -> str:
    """f15_chuck_close oracle: per-tile block means quantized to k gray
    levels between the tile's min/max block mean (effects.chuck_close),
    each block painted with its level value (f32), summed per tile."""
    w, h = tiles_x * tile, tiles_y * tile
    return f"""
WITH {_grid_cte(w, h)},
b AS (
  SELECT x // {tile} AS tx, y // {tile} AS ty,
         (x % {tile}) // {block} AS bx, (y % {tile}) // {block} AS by,
         COUNT(*) AS n, SUM({dem_z_sql('x', 'y')}) / COUNT(*) AS bm
  FROM grd GROUP BY 1, 2, 3, 4),
rng AS (
  SELECT tx, ty, MIN(bm) AS lo, MAX(bm) AS hi FROM b GROUP BY tx, ty),
q AS (
  SELECT b.tx, b.ty, b.n,
         CAST(lo + (FLOOR((bm - lo) / GREATEST(hi - lo, 1e-9) * ({levels} - 1e-9)) + 0.5)
                   * (hi - lo) / {levels} AS FLOAT) AS val
  FROM b JOIN rng ON rng.tx = b.tx AND rng.ty = b.ty)
SELECT CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
       ROUND(SUM(CAST(val AS DOUBLE) * n), 5) AS sum_v
FROM q GROUP BY 1, 2 ORDER BY tx, ty"""


def mask_apply_sql(n_images: int) -> str:
    """p3_mask_apply oracle: keep red where nir > 0 else nodata 0 —
    integer-exact sums."""
    return f"""
WITH {_kind1_px_cte(n_images)}
SELECT printf('img%09d', i) AS image_id,
       CAST(SUM(CASE WHEN nir > 0 THEN red ELSE 0 END) AS BIGINT) AS sum_v
FROM px GROUP BY i ORDER BY image_id"""


def replace_value_sql(n_images: int) -> str:
    """p4_replace_nulls oracle over lossless kind-3 tiles (ramps with
    embedded zeros, plus constants): 0 → 255 after the ramp's own zeros —
    integer-exact sums."""
    wc, hc = _img_dims_case()
    return f"""
WITH imgs AS (
  SELECT i, {wc} AS w, {hc} AS h
  FROM generate_series(0, {n_images - 1}) t(i)
  WHERE (i % 4) = 3 AND ((i // 4) % 4) <> 3),
px AS (
  SELECT i,
         CASE WHEN i % 8 = 3 THEN (i % 200) + 1
              WHEN (y*w+x) % 17 = 0 THEN 0
              ELSE (y*w+x) % 256 END AS v0
  FROM imgs, generate_series(0, 127) tx(x), generate_series(0, 127) ty(y)
  WHERE x < w AND y < h)
SELECT printf('img%09d', i) AS image_id,
       CAST(SUM(CASE WHEN v0 = 0 THEN 255 ELSE v0 END) AS BIGINT) AS sum_v
FROM px GROUP BY i ORDER BY image_id"""


def latitude_sql(tiles_x: int, tiles_y: int, tile: int,
                 cell: float = fixtures.CELL_DEG) -> str:
    """s6_latitude oracle: the Latitude source — per-pixel map latitude
    from the tile georeference (ymax = 45 − ty·0.032), f32-stored."""
    w, h = tiles_x * tile, tiles_y * tile
    lat = (f"CAST(45.0 - (CAST(y // {tile} AS DOUBLE)) * 0.032"
           f" - (CAST(y % {tile} AS DOUBLE) + 0.5) * {cell} AS FLOAT)")
    return f"""
WITH {_grid_cte(w, h)}
SELECT CAST(x // {tile} AS INT) AS tx, CAST(y // {tile} AS INT) AS ty,
       ROUND(SUM(CAST({lat} AS DOUBLE)), 4) AS sum_lat
FROM grd GROUP BY 1, 2 ORDER BY tx, ty"""


def catalog_sql(n_images: int) -> str:
    """s7_catalog oracle: header-only catalog crawl — per (fmt, dtype,
    bands, h, w) counts re-derived from the fixture's metadata cycles
    (tile_fmt / tile_meta / tile_dims), no pixel decode anywhere."""
    wc, hc = _img_dims_case()
    return f"""
WITH imgs AS (
  SELECT i, {wc} AS w, {hc} AS h,
         CASE i % 4 WHEN 0 THEN 'f4' WHEN 1 THEN 'u1' WHEN 2 THEN 'u2' ELSE 'u1' END AS dtype,
         CASE i % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 6 ELSE 1 END AS bands,
         CASE WHEN i % 4 IN (1, 3)
              THEN CASE (i // 4) % 4 WHEN 0 THEN 'raw' WHEN 1 THEN 'rle'
                                     WHEN 2 THEN 'zlib' ELSE 'dct' END
              ELSE CASE (i // 4) % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'rle'
                                     ELSE 'zlib' END
         END AS fmt
  FROM generate_series(0, {n_images - 1}) t(i))
SELECT fmt, dtype, CAST(bands AS INT) AS bands,
       CAST(h AS INT) AS h, CAST(w AS INT) AS w,
       CAST(COUNT(*) AS BIGINT) AS n
FROM imgs GROUP BY 1, 2, 3, 4, 5 ORDER BY fmt, dtype, bands, h, w"""


def qa_clear_sql(n_images: int) -> str:
    """p7_qa_clear oracle: clear-pixel whitelist over the kind-2 QA band
    (band 5 = qa_vals[(i + px) % 7]; the first 4 of the 7 cycled values
    are the C1 clear codes) — integer counts."""
    wc, hc = _img_dims_case()
    return f"""
WITH imgs AS (
  SELECT i, {wc} AS w, {hc} AS h
  FROM generate_series(0, {n_images - 1}) t(i) WHERE i % 4 = 2),
px AS (
  SELECT i, CASE WHEN (i + y*w + x) % {len(_QA_VALS)} < 4 THEN 1 ELSE 0 END AS c
  FROM imgs, generate_series(0, 127) tx(x), generate_series(0, 127) ty(y)
  WHERE x < w AND y < h)
SELECT printf('img%09d', i) AS image_id, CAST(SUM(c) AS BIGINT) AS n_clear
FROM px GROUP BY i ORDER BY image_id"""


def resize_sql(tiles_x: int, tiles_y: int, tile: int,
               out_h: int, out_w: int) -> str:
    """mm_resize oracle: box-resample each f8 DEM tile to (out_h, out_w)
    by bin means (multimodal.resize_tiles reduceat bins: output cell (r,c)
    averages source rows [r·h/out_h, (r+1)·h/out_h) — exact for integer
    ratios), f32-stored, summed per tile."""
    w, h = tiles_x * tile, tiles_y * tile
    return f"""
WITH {_grid_cte(w, h)},
b AS (
  SELECT x // {tile} AS tx, y // {tile} AS ty,
         (y % {tile}) * {out_h} // {tile} AS r,
         (x % {tile}) * {out_w} // {tile} AS c,
         COUNT(*) AS n, SUM({dem_z_sql('x', 'y')}) / COUNT(*) AS bm
  FROM grd GROUP BY 1, 2, 3, 4)
SELECT CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
       ROUND(SUM(CAST(CAST(bm AS FLOAT) AS DOUBLE)), 5) AS sum_v
FROM b GROUP BY 1, 2 ORDER BY tx, ty"""


def _kind1_lossless_indices(n_images: int) -> list[int]:
    from .fixtures import tile_fmt, tile_kind
    return [i for i in range(n_images)
            if tile_kind(i) == 1 and tile_fmt(i) != "dct"]


def rf_classify_sql(n_images: int, n_trees: int = 8, max_depth: int = 4) -> str:
    """m3_random_forest oracle: the from-scratch bagged-CART fit is seeded
    and deterministic but not SQL-expressible, so (ring-fill precedent) the
    expected per-image class counts and probability sums are computed by a
    single-process replay of the same public model over the closed-form
    fixture pixels and embedded as VALUES. The distributed path under test:
    model broadcast, per-tile batched predict, exact aggregation."""
    from .fixtures import gen_pixels, ml_training_set
    from .operators import ml
    tX, ty = ml_training_set()
    op = ml.random_forest_classifier(tX, ty, n_trees=n_trees, max_depth=max_depth)
    rows = []
    for i in _kind1_lossless_indices(n_images):
        out = op.apply(gen_pixels(i), {})
        rows.append(
            f"('img{i:09d}', {int((out[0] == 0).sum())}, "
            f"{int((out[0] == 1).sum())}, {int((out[0] == 2).sum())}, "
            f"{round(float(out[1].astype(np.float64).sum()), 3)!r})")
    return ("SELECT image_id, CAST(n_c0 AS BIGINT) AS n_c0, "
            "CAST(n_c1 AS BIGINT) AS n_c1, CAST(n_c2 AS BIGINT) AS n_c2, "
            "sum_p1 FROM (VALUES " + ", ".join(rows)
            + ") t(image_id, n_c0, n_c1, n_c2, sum_p1) ORDER BY image_id")


def gbt_classify_sql(n_images: int, n_rounds: int = 15) -> str:
    """m4_gbt oracle: same replay scheme as rf_classify_sql for the
    from-scratch binary logit-boosting ensemble."""
    from .fixtures import gen_pixels, ml_training_set
    from .operators import ml
    tX, ty = ml_training_set(centroids=((40.0, 40.0), (200.0, 200.0)))
    op = ml.gradient_boosted_classifier(tX, ty, n_rounds=n_rounds)
    rows = []
    for i in _kind1_lossless_indices(n_images):
        out = op.apply(gen_pixels(i), {})
        rows.append(
            f"('img{i:09d}', {int((out[0] == 0).sum())}, "
            f"{int((out[0] == 1).sum())}, "
            f"{round(float(out[1].astype(np.float64).sum()), 3)!r})")
    return ("SELECT image_id, CAST(n_c0 AS BIGINT) AS n_c0, "
            "CAST(n_c1 AS BIGINT) AS n_c1, sum_p FROM (VALUES "
            + ", ".join(rows)
            + ") t(image_id, n_c0, n_c1, sum_p) ORDER BY image_id")


def mm_quarantine_sql(n: int, corrupt_every: int) -> str:
    """mm_quarantine oracle: single-process replay of the mixed fixture
    through the same public decoders — good rows sum exactly, corrupt rows
    (deterministically truncated payloads) land in the quarantine bucket.
    The distributed property under test: NO task death, every row
    accounted for on exactly one side."""
    from . import formats
    from .fixtures import mixed_fixture_payload
    n_ok = n_bad = 0
    total = 0
    for i in range(n):
        try:
            px = formats.decode_image_any(mixed_fixture_payload(i, corrupt_every))
            n_ok += 1
            total += int(px.astype(np.int64).sum())
        except Exception:
            n_bad += 1
    return (f"SELECT ok, CAST(n AS BIGINT) AS n, CAST(sum_ok AS BIGINT) AS sum_ok "
            f"FROM (VALUES (false, {n_bad}, NULL), (true, {n_ok}, {total})) "
            f"t(ok, n, sum_ok) ORDER BY ok")


def mm_ingest_rollup_sql(n: int, corrupt_every: int, res: int) -> str:
    """mm_ingest_rollup oracle — the end-to-end crawl-ingest contract:
    per row, quarantine flag + exact pixel sum + Z-order cell. Hybrid
    derivation: the LOSSLESS formats (png/bmp/container share one pixel
    closed form) sum via generate_series; the lossy JPEG rows are
    single-process replay VALUES; cells come from the same portable
    cell-encode SQL the engine's Column expression mirrors bit-for-bit."""
    from . import formats, grid
    from .fixtures import PNG_DIMS, jpeg_fixture_payload
    bands, hh, ww = PNG_DIMS
    jpeg_rows = []
    for i in range(n):
        if i % 4 == 1 and not (corrupt_every and i % corrupt_every == 3):
            px = formats.decode_image_any(jpeg_fixture_payload(i // 4))
            jpeg_rows.append(f"({i}, {int(px.astype(np.int64).sum())})")
    cell = grid.encode_sql("lon", "lat", res, "duckdb")
    return f"""
WITH ids AS (SELECT i FROM generate_series(0, {n - 1}) t(i)),
geo AS (
  SELECT i, CAST(i * 7919 % 360 AS DOUBLE) - 180.0 + 0.5 AS lon,
         CAST(i * 104729 % 170 AS DOUBLE) - 85.0 + 0.5 AS lat
  FROM ids),
pngsum AS (
  SELECT k, CAST(SUM((k*13 + b*31 + y*7 + x*3) % 256) AS BIGINT) AS s
  FROM generate_series(0, {(n - 1) // 4}) tk(k),
       generate_series(0, {bands - 1}) tb(b),
       generate_series(0, {hh - 1}) ty(y),
       generate_series(0, {ww - 1}) tx(x)
  GROUP BY k),
jpg(ji, js) AS (VALUES {", ".join(jpeg_rows)})
SELECT printf('mix%05d', ids.i) AS image_id,
       ids.i % {corrupt_every} <> 3 AS ok,
       {cell} AS cell,
       CASE WHEN ids.i % {corrupt_every} = 3 THEN -1
            WHEN ids.i % 4 = 1 THEN (SELECT js FROM jpg WHERE ji = ids.i)
            ELSE (SELECT s FROM pngsum WHERE k = ids.i // 4) END AS px_sum
FROM ids JOIN geo ON geo.i = ids.i
ORDER BY image_id"""


def png_decode_sql(n: int) -> str:
    """mm_decode_png oracle: PNG is LOSSLESS, so the decoded pixel sums are
    the closed form the fixture was generated from — DuckDB recomputes them
    independently (no embedded goldens): v = (i·13 + b·31 + y·7 + x·3) % 256.
    A decoder that mis-unfilters ANY scanline of ANY of the five filter
    types (the fixture cycles them per image) breaks the exact sum."""
    from .fixtures import PNG_DIMS
    bands, h, w = PNG_DIMS
    return f"""
SELECT 'png' || lpad(CAST(i AS VARCHAR), 5, '0') AS image_id,
       CAST({bands} AS INT) AS bands, CAST({h} AS INT) AS h,
       CAST({w} AS INT) AS w,
       CAST(SUM((i*13 + b*31 + y*7 + x*3) % 256) AS BIGINT) AS px_sum
FROM generate_series(0, {n - 1}) ti(i),
     generate_series(0, {bands - 1}) tb(b),
     generate_series(0, {h - 1}) ty(y),
     generate_series(0, {w - 1}) tx(x)
GROUP BY 1 ORDER BY image_id"""


def jpeg_decode_sql(n: int) -> str:
    """mm_decode_jpeg oracle: JPEG is lossy, so (ring-fill precedent) the
    expected metrics are computed single-process by replaying the SAME
    public payload builder + decoder and embedded as VALUES — the contract
    verifies the DISTRIBUTED path (mapInPandas batching, Arrow transfer,
    partitioning) reproduces them bit-for-bit at any parallelism."""
    from . import jpeg as _jpeg
    from .fixtures import jpeg_fixture_payload
    rows = []
    for i in range(n):
        px = _jpeg.decode_jpeg(jpeg_fixture_payload(i))
        rows.append(f"('jpg{i:05d}', {px.shape[0]}, {px.shape[1]}, "
                    f"{px.shape[2]}, {int(px.astype(np.int64).sum())})")
    return ("SELECT image_id, CAST(bands AS INT) AS bands, "
            "CAST(h AS INT) AS h, CAST(w AS INT) AS w, "
            "CAST(px_sum AS BIGINT) AS px_sum FROM (VALUES "
            + ", ".join(rows)
            + ") t(image_id, bands, h, w, px_sum) ORDER BY image_id")


def lsh_topk_sql(dim: int, n_bits: int, n_probes: int, k: int,
                 q_max_id: int = 5) -> str:
    """ann_lsh oracle: hyperplane sign-bucket ANN. The bucket bits are
    bit-exact because the SQL dot product unrolls the engine's sequential
    left fold (F.aggregate starts at 0.0 and adds products in array
    order) over the same splitmix-derived hyperplane literals; queries
    probe their bucket plus the single-bit-flip neighbors."""
    from .similarity import _hyperplanes
    H = _hyperplanes(dim, n_bits)

    def dot(col: str, b: int) -> str:
        return "(0.0 + " + " + ".join(
            f"{col}[{j + 1}]*{H[b, j]!r}" for j in range(dim)) + ")"

    def bucket(col: str) -> str:
        return "(" + " + ".join(
            f"(CASE WHEN {dot(col, b)} > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(n_bits)) + ")"

    probes = ", ".join(["bucket0"] + [f"xor(bucket0, {1 << b})"
                                      for b in range(n_probes - 1)])
    return f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
         {bucket('embedding')} AS bucket
  FROM embeddings WHERE vec_id >= {q_max_id}),
q0 AS (
  SELECT vec_id AS query_id, embedding AS qv,
         {bucket('embedding')} AS bucket0
  FROM embeddings WHERE vec_id < {q_max_id}),
q AS (SELECT query_id, qv, unnest([{probes}]) AS bucket FROM q0),
s AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv, cv) AS score
  FROM c JOIN q USING (bucket))
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= {k}
ORDER BY query_id, rank"""


# ------------------------------------------------------ feature service ----

@lru_cache(maxsize=2)
def esri_points_doc(n: int = 200) -> str:
    """Deterministic Esri-JSON point feature collection (attributes +
    geometry) shared by the engine query and the DuckDB oracle."""
    import json
    feats = []
    for i in range(n):
        feats.append({
            "attributes": {"fid": i, "pop": (i * 37) % 1000,
                           "category": f"c{i % 5}"},
            "geometry": {"x": (i * 7919 % 36000) / 100.0 - 180.0,
                         "y": (i * 104729 % 17000) / 100.0 - 85.0},
        })
    return json.dumps({"features": feats})


def feature_service_sql(n: int, pop_gt: int,
                        env: tuple[float, float, float, float]) -> str:
    """s3_feature_envelope oracle: DuckDB parses the SAME Esri-JSON
    document (positional unnest zip over JSONPath wildcard lists) and
    applies the where + envelope pushdown relationally."""
    doc = esri_points_doc(n)
    xmin, ymin, xmax, ymax = env
    return f"""
WITH feats AS (
  SELECT
    unnest(CAST(json_extract(j, '$.features[*].attributes.pop') AS BIGINT[])) AS pop,
    unnest(json_extract_string(j, '$.features[*].attributes.category')) AS category,
    unnest(CAST(json_extract(j, '$.features[*].geometry.x') AS DOUBLE[])) AS x,
    unnest(CAST(json_extract(j, '$.features[*].geometry.y') AS DOUBLE[])) AS y
  FROM (SELECT '{doc}'::JSON AS j))
SELECT category, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS sum_pop
FROM feats
WHERE pop > {pop_gt}
  AND x >= {xmin} AND x <= {xmax} AND y >= {ymin} AND y <= {ymax}
GROUP BY category ORDER BY category"""


# ----------------------------------------------------------- SARIMA --------

def sarima_by_group_sql(series_sql: str, group_col: str, value_col: str,
                        order_col: str, period: int, horizon: int,
                        iters: int = 25, raw: bool = False,
                        min_fit: int | None = None) -> str:
    """DuckDB oracle for ml.sarima_forecast_by_group — the full CSS fit in
    SQL. Key identity: the per-iteration OLS solves are linear in one
    parameter given the other, so every covariance/variance expands into
    PARAMETER-FREE data moments (one aggregation per group); the 25
    coordinate-descent iterations then run as a scalar recursive CTE over
    (c, φ, Φ), and the h-step forecast as a recursive CTE carrying the
    rolling last-(s+1)-values list. ``series_sql`` must yield
    (group_col, order_col, value_col).

    ``min_fit``: series shorter than this take the engine's naive-hold
    branch (forecast = last value, delta = 0) — mirrors
    ml.sarima_forecast_by_group's ``n < 2·period+2`` fallback. The
    per-pixel path (ml.sarima_stack_delta) always fits, so its oracle
    passes ``min_fit=0``."""
    s = period
    if min_fit is None:
        min_fit = 2 * s + 2
    # lag frame: t runs over s+1 .. T-1 (engine: yt = Y[:, s+1:])
    return f"""
WITH RECURSIVE series AS MATERIALIZED ({series_sql}),
lagged AS (
  SELECT {group_col} AS g,
         CAST({value_col} AS DOUBLE) AS yt,
         LAG({value_col}, 1)       OVER w AS y1,
         LAG({value_col}, {s})     OVER w AS ys,
         LAG({value_col}, {s + 1}) OVER w AS ys1
  FROM series
  WINDOW w AS (PARTITION BY {group_col} ORDER BY {order_col})),
mom AS MATERIALIZED (
  SELECT g,
         AVG(yt) AS m_t, AVG(y1) AS m_1, AVG(ys) AS m_s, AVG(ys1) AS m_s1,
         AVG(yt*y1) AS m_t1, AVG(yt*ys) AS m_ts, AVG(yt*ys1) AS m_ts1,
         AVG(y1*y1) AS m_11, AVG(y1*ys) AS m_1s, AVG(y1*ys1) AS m_1s1,
         AVG(ys*ys) AS m_ss, AVG(ys*ys1) AS m_ss1, AVG(ys1*ys1) AS m_s1s1
  FROM lagged WHERE ys1 IS NOT NULL GROUP BY g),
fit AS (
  -- coordinate descent on (φ, Φ); c is an output only (never fed back),
  -- exactly like ml.sarima_css_fit_batch's loop
  SELECT g, 0 AS it, CAST(0 AS DOUBLE) AS phi, CAST(0 AS DOUBLE) AS cphi
  FROM mom
  UNION ALL
  SELECT g, it + 1, phi_n,
         -- step 2: Φ' | φ':  u2 = yt − φ' y1, v2 = ys − φ' ys1
         CASE WHEN (m_ss - 2*phi_n*m_ss1 + phi_n*phi_n*m_s1s1)
                    - (m_s - phi_n*m_s1)*(m_s - phi_n*m_s1) > 1e-12
              THEN ((m_ts - phi_n*m_1s - phi_n*m_ts1 + phi_n*phi_n*m_1s1)
                    - (m_t - phi_n*m_1)*(m_s - phi_n*m_s1))
                   / ((m_ss - 2*phi_n*m_ss1 + phi_n*phi_n*m_s1s1)
                      - (m_s - phi_n*m_s1)*(m_s - phi_n*m_s1))
              ELSE 0.0 END
  FROM (
    -- step 1: φ' | Φ:  u = yt − Φ ys, v = y1 − Φ ys1 (covariances expand
    -- into the parameter-free moments)
    SELECT f.g, f.it, m.* EXCLUDE (g),
           CASE WHEN (m_11 - 2*f.cphi*m_1s1 + f.cphi*f.cphi*m_s1s1)
                      - (m_1 - f.cphi*m_s1)*(m_1 - f.cphi*m_s1) > 1e-12
                THEN ((m_t1 - f.cphi*m_ts1 - f.cphi*m_1s + f.cphi*f.cphi*m_ss1)
                      - (m_t - f.cphi*m_s)*(m_1 - f.cphi*m_s1))
                     / ((m_11 - 2*f.cphi*m_1s1 + f.cphi*f.cphi*m_s1s1)
                        - (m_1 - f.cphi*m_s1)*(m_1 - f.cphi*m_s1))
                ELSE 0.0 END AS phi_n
    FROM fit f JOIN mom m ON m.g = f.g WHERE f.it < {iters}) q),
params AS (
  -- engine: c comes from the final step-2 OLS with the UNCLAMPED params
  -- (c = mean(u2) − Φ·mean(v2)); the stationarity clamp applies only to
  -- the φ/Φ used in the forecast recursion
  SELECT f.g,
         (m_t - f.phi*m_1) - f.cphi*(m_s - f.phi*m_s1) AS c_fin,
         LEAST(GREATEST(f.phi, -0.999), 0.999) AS phi_c,
         LEAST(GREATEST(f.cphi, -0.999), 0.999) AS cphi_c
  FROM fit f
  JOIN (SELECT g AS gg, MAX(it) AS mit FROM fit GROUP BY g) last
    ON f.g = last.gg AND f.it = last.mit
  JOIN mom m ON m.g = f.g),
tails AS MATERIALIZED (
  SELECT {group_col} AS g,
         list(CAST({value_col} AS DOUBLE) ORDER BY {order_col}) AS ys_all,
         COUNT(*) AS n_obs
  FROM series GROUP BY {group_col}),
fc AS (
  -- rolling buffer of the last s+1 values: buf[1] = y_(t-s-1) …
  -- buf[s+1] = y_(t-1); each step appends the 1-step forecast. Only
  -- long-enough groups enter the recursion — short ones take the
  -- engine's naive-hold branch in the final SELECT.
  SELECT g, 0 AS h,
         list_slice(ys_all, n_obs - {s}, n_obs) AS buf,
         ys_all[n_obs] AS last_obs
  FROM tails WHERE n_obs >= {min_fit}
  UNION ALL
  SELECT g, h + 1,
         list_append(list_slice(buf, 2, {s + 1}),
                     c_fin + phi_c * buf[{s + 1}] + cphi_c * buf[2]
                     - phi_c * cphi_c * buf[1]),
         last_obs
  FROM (SELECT fc.*, p.c_fin, p.phi_c, p.cphi_c
        FROM fc JOIN params p ON p.g = fc.g WHERE fc.h < {horizon}) q)
SELECT t.g AS {group_col},
       -- groups too short to fit (n_obs < 2·period+2) mirror the engine's
       -- naive-hold fallback (ml.sarima_forecast_by_group): forecast =
       -- last value, delta = 0 — previously these dropped out of the
       -- moments CTE entirely and broke the row-count contract
       {"CASE WHEN t.n_obs < %d THEN t.ys_all[t.n_obs] ELSE fc.buf[%d] END AS forecast"
        % (min_fit, s + 1) if raw
        else "ROUND(CASE WHEN t.n_obs < %d THEN t.ys_all[t.n_obs] ELSE fc.buf[%d] END, 4) AS forecast"
        % (min_fit, s + 1)},
       {"CASE WHEN t.n_obs < %d THEN 0.0 ELSE fc.buf[%d] - fc.last_obs END AS delta"
        % (min_fit, s + 1) if raw
        else "ROUND(CASE WHEN t.n_obs < %d THEN 0.0 ELSE fc.buf[%d] - fc.last_obs END, 4) AS delta"
        % (min_fit, s + 1)},
       CAST(t.n_obs AS BIGINT) AS n_obs
FROM tails t LEFT JOIN fc ON fc.g = t.g AND fc.h = {horizon}
WHERE fc.h = {horizon} OR t.n_obs < {min_fit}
ORDER BY {group_col}"""


def sarima_stack_delta_sql(n_scenes: int, n_times: int, tile: int,
                           period: int, horizon: int) -> str:
    """m5_sarima_px oracle: the reference's actual per-PIXEL SARIMA shape
    (SeasonalARIMA.py:192-216) — one CSS fit per pixel of the stack
    fixture, all replayed through the same recursive-CTE machinery as
    m5_sarima with a composite (scene, y, x) group key, deltas quantized
    to the engine's f32 store and summed per scene."""
    g = f"(s * 1000000 + y * {tile} + x * {tile * tile})"
    series = (f"SELECT {g} AS g, t AS tt, "
              f"CAST((s*31 + t*17 + y*{tile} + x) % 4000 AS DOUBLE) AS v "
              f"FROM generate_series(0, {n_scenes - 1}) ts(s), "
              f"generate_series(0, {n_times - 1}) tt2(t), "
              f"generate_series(0, {tile - 1}) ty(y), "
              f"generate_series(0, {tile - 1}) tx(x)")
    inner = sarima_by_group_sql(series, "g", "v", "tt", period, horizon,
                                raw=True, min_fit=0)
    return f"""
WITH per_px AS ({inner})
SELECT 'scene' || (g // 1000000) AS scene_id,
       CAST(ANY_VALUE(n_obs) AS INT) AS n_obs,
       ROUND(SUM(CAST(CAST(delta AS FLOAT) AS DOUBLE)), 3) AS sum_delta
FROM per_px GROUP BY 1 ORDER BY scene_id"""


# ----------------------------------------------------------- cloud fill ----

def cloud_fill_sql(n_scenes: int = 4, tile: int = 32, window: int = 8) -> str:
    """img_cloud_fill oracle: the ring-growing locally-matched fill is
    iterative (not SQL-expressible); the expected per-scene sums are
    computed single-process with the same public multiraster.ring_fill_np
    and embedded. The *distributed* behavior under test — the 3-way
    tile-key alignment join and the aggregation — must reproduce them."""
    from .operators.multiraster import ring_fill_np
    rows = []
    for i in range(n_scenes):
        yy, xx = np.mgrid[0:tile, 0:tile]
        t = (xx * 2.0 + i).astype(np.float32)
        r = (t * 0.7 + 11.0).astype(np.float32)
        m = np.zeros((tile, tile), np.uint8)
        m[8:20, 8:20] = 1
        filled = ring_fill_np(t, r, m, window)
        rows.append(f"('s{i}', {float(filled.astype(np.float64).sum())!r})")
    return ("SELECT scene_id, sum_v FROM (VALUES "
            + ", ".join(rows)
            + ") t(scene_id, sum_v) ORDER BY scene_id")


def rft_findmax_sql(n_scenes: int = 3, n_t: int = 6, tile: int = 16,
                    mod: int = 150) -> str:
    """rft_mosaic_findmax oracle: the FindMaxPixel_Mosaic template's math
    re-derived closed-form — per-pixel max across the collection after
    invalidating values > 100 to −1 (FindMax.py:66-84); all-invalid pixels
    stay −1 (max of all −1). The fixture pixels are
    (s·31 + t·17 + y·tile + x) % mod, so the whole reduction is one
    GROUP BY."""
    return f"""
WITH px AS (
  SELECT s, t, y, x,
         CAST((s*31 + t*17 + y*{tile} + x) % {mod} AS DOUBLE) AS v
  FROM generate_series(0, {n_scenes - 1}) ts(s),
       generate_series(0, {n_t - 1}) tt(t),
       generate_series(0, {tile - 1}) ty(y),
       generate_series(0, {tile - 1}) tx(x)),
capped AS (
  SELECT s, y, x, MAX(CASE WHEN v > 100 THEN -1.0 ELSE v END) AS m
  FROM px GROUP BY s, y, x)
SELECT 'scene' || s AS scene_id, {n_t} AS n_rasters,
       CAST(SUM(m) AS BIGINT) AS sum_v
FROM capped GROUP BY s ORDER BY scene_id"""


def sarima_seasonal_sql(tile: int = 8, n_t: int = 144,
                        seasonal_order: tuple = (0, 1, 1)) -> str:
    """m5_sarima_seasonal / m5_sarima_d2 oracle: the (1,0,0)×(P,D,Q,12)
    per-pixel fit is iterative (Hannan–Rissanen batched OLS + recursive
    residual pass), so — replay-oracle style (m3/m4 precedent) — the
    expected per-scene delta sum is computed by a single-process replay of
    the same public fitter over the same closed-form fixture and embedded
    as VALUES. The distributed path under test: groupBy(scene)
    applyInPandas, whole-tile batch fit, template index arithmetic.
    (The fitter math itself is independently anchored by
    tests/test_ml_zonal_hydro.py's known-process recovery tests.)"""
    from .fixtures import sarima_monthly_stack
    from .operators import ml
    full = sarima_monthly_stack(tile, n_t)
    Y = full.reshape(n_t, -1).T.astype(np.float64)[:, 0:120]
    pm = 6
    j_final = (2003 - 2000) * 12 - (12 - pm)
    j_cur = (2001 - 2000) * 12 - (12 - pm)
    fc = ml.sarima_forecast_batch(Y, j_final + 1, period=12,
                                  seasonal_order=tuple(seasonal_order))
    delta = (fc[:, j_final] - fc[:, j_cur]).astype(np.float32)
    s = round(float(delta.astype(np.float64).sum()), 3)
    return (f"SELECT scene_id, CAST(n_obs AS INT) AS n_obs, sum_delta "
            f"FROM (VALUES ('s0', {n_t}, {s!r})) t(scene_id, n_obs, sum_delta)")


def video_decode_sql(n: int = 30, every_n: int = 2) -> str:
    """mm_decode_video oracle: single-process replay of the same public
    container builder + demux + frame decode (replay-VALUES style — the
    JPEG entropy decode is not SQL-expressible). The distributed path
    under test: mapInPandas demux/decode batches, quarantine rows stay
    joinable, exact pixel sums on the sampled frames."""
    from . import formats, multimodal
    from .fixtures import mp4_videos_pdf
    pdf = mp4_videos_pdf(n)
    rows = []
    for _, r in pdf.iterrows():
        try:
            raw = bytes(r["bytes"])
            t = formats._demux_tables(raw)
            tag = t["codec"]
            samples = formats.samples_from_tables(raw, t)
            pidc = t["profile_idc"] if t["profile_idc"] is not None else -1
            lidc = t["level_idc"] if t["level_idc"] is not None else -1
            ch = t["codec_h"] if t["codec_h"] is not None else -1
            cw = t["codec_w"] if t["codec_w"] is not None else -1
            if tag.strip() in ("jpeg", "mjpa", "png"):
                # mirror the engine's rule: a frame-decode failure keeps
                # the demuxed metadata and quarantines (ok=false)
                try:
                    tot, nd, hh, ww = 0, 0, -1, -1
                    for s in samples[::every_n]:
                        px = formats.decode_image_any(s)
                        tot += int(px.astype(np.int64).sum())
                        hh, ww = int(px.shape[1]), int(px.shape[2])
                        nd += 1
                    vals = (tag, len(samples), nd, hh, ww, tot, pidc, lidc,
                            "true")
                except Exception:
                    vals = (tag, len(samples), 0, ch, cw, -1, pidc, lidc,
                            "false")
            else:
                # quarantined track: SPS-derived dims + profile enrich it
                vals = (tag, len(samples), 0, ch, cw, -1, pidc, lidc, "false")
        except Exception:
            vals = ("", -1, -1, -1, -1, -1, -1, -1, "false")
        rows.append(f"('{r['video_id']}', '{vals[0]}', {vals[1]}, {vals[2]}, "
                    f"{vals[3]}, {vals[4]}, {vals[5]}, {vals[6]}, {vals[7]}, "
                    f"{vals[8]})")
    return ("SELECT video_id, codec, CAST(n_frames AS INT) AS n_frames, "
            "CAST(n_decoded AS INT) AS n_decoded, CAST(h AS INT) AS h, "
            "CAST(w AS INT) AS w, CAST(px_sum AS BIGINT) AS px_sum, "
            "CAST(profile_idc AS INT) AS profile_idc, "
            "CAST(level_idc AS INT) AS level_idc, ok "
            "FROM (VALUES " + ", ".join(rows)
            + ") t(video_id, codec, n_frames, n_decoded, h, w, px_sum, "
            "profile_idc, level_idc, ok) ORDER BY video_id")


def lsh_multi_sql(n: int = 2000, nq: int = 8, dim: int = 32, k: int = 5,
                  n_bits: int = 8, n_tables: int = 4) -> str:
    """ann_lsh_multi oracle: single-process replay of the amplified-LSH
    candidate generation + cosine ranking over the deterministic fixture
    corpus (the per-bucket GEMM sub-blocks produce bit-identical dots to
    the replay's, since dgemm sums along the shared dim axis per output
    element — verified by the cross-parallelism identity drive)."""
    from .fixtures import ann_vectors
    from .similarity import _hyperplanes
    ids, X, qids, Q = ann_vectors(n, nq, dim)
    pow2 = (1 << np.arange(n_bits)).astype(np.int64)
    cand = [set() for _ in range(nq)]
    for t in range(n_tables):
        H = _hyperplanes(dim, n_bits, table=t)
        cb = ((X @ H.T) > 0).astype(np.int64) @ pow2
        qb = ((Q @ H.T) > 0).astype(np.int64) @ pow2
        for qi in range(nq):
            for ci in np.nonzero(cb == qb[qi])[0]:
                cand[qi].add(int(ci))
    qn = np.sqrt((Q ** 2).sum(1))
    cn = np.sqrt((X ** 2).sum(1))
    rows = []
    for qi in range(nq):
        cs = np.array(sorted(cand[qi]), dtype=np.int64)
        if cs.size == 0:
            continue
        S = (Q[qi] @ X[cs].T) / (qn[qi] * cn[cs])
        order = np.lexsort((ids[cs], -S))[:k]
        for r, j in enumerate(order, start=1):
            rows.append(f"({qids[qi]}, {ids[cs[j]]}, {r})")
    return ("SELECT CAST(query_id AS BIGINT) AS query_id, "
            "CAST(neighbor_id AS BIGINT) AS neighbor_id, "
            "CAST(rank AS INT) AS rank FROM (VALUES " + ", ".join(rows)
            + ") t(query_id, neighbor_id, rank) ORDER BY query_id, rank")


def rft_synthesis_sql(n_scenes: int = 3, n_t: int = 26, tile: int = 16,
                      mod: int = 150, month: int = 3) -> str:
    """rft_mosaic_synthesis oracle: the Landsat Image Synthesis template's
    month-filtered mean over the closed-form mosaic fixture — the members
    are the t with t%12+1 = month, their per-pixel mean is re-derived in
    SQL (exact halves → f32-safe)."""
    ts = [t for t in range(n_t) if t % 12 + 1 == month]
    avg = "(" + " + ".join(
        f"CAST((s*31 + {t}*17 + y*{tile} + x) % {mod} AS DOUBLE)"
        for t in ts) + f") / {float(len(ts))}"
    return f"""
WITH px AS (
  SELECT s, y, x, CAST({avg} AS FLOAT) AS m
  FROM generate_series(0, {n_scenes - 1}) ts(s),
       generate_series(0, {tile - 1}) ty(y),
       generate_series(0, {tile - 1}) tx(x))
SELECT 'scene' || s AS scene_id, {len(ts)} AS n_rasters,
       ROUND(SUM(CAST(m AS DOUBLE)), 4) AS sum_m
FROM px GROUP BY s ORDER BY scene_id"""


def stream_pixel_composite_sql(n_scenes: int = 3, n_t: int = 6,
                               tile: int = 16, mod: int = 150) -> str:
    """stream_pixel_composite oracle: the streaming [Σ, count] partials
    merge must equal the closed-form whole-stack mean of the mosaic
    fixture (exact — integer values, exact f8 sums, f32 cast like the
    engine's output tile)."""
    avg = "(" + " + ".join(
        f"CAST((s*31 + {t}*17 + y*{tile} + x) % {mod} AS DOUBLE)"
        for t in range(n_t)) + f") / {float(n_t)}"
    return f"""
WITH px AS (
  SELECT s, y, x, CAST({avg} AS FLOAT) AS m
  FROM generate_series(0, {n_scenes - 1}) ts(s),
       generate_series(0, {tile - 1}) ty(y),
       generate_series(0, {tile - 1}) tx(x))
SELECT 'scene' || s AS scene_id, {n_t} AS n_rasters,
       ROUND(SUM(CAST(m AS DOUBLE)), 4) AS sum_m
FROM px GROUP BY s ORDER BY scene_id"""


def _trapezoid(x: str, a: float, p1: float, p2: float, b: float) -> str:
    """SQL trapezoidal membership matching pointwise._piecewise_suitability
    (up-ramp below p1, plateau, down-ramp above p2, clip <0 → 0)."""
    return (f"GREATEST(CASE WHEN {x} <= {p1!r} THEN ({x} - {a!r}) / {p1 - a!r} "
            f"WHEN {x} >= {p2!r} THEN ({x} - {b!r}) / {p2 - b!r} "
            f"ELSE 1.0 END, 0.0)")


def fish_habitat_sql(n_images: int, depth: float = 5.0) -> str:
    """f7_fish_habitat oracle: shark-habitat trapezoid product
    (FishHabitatSuitability.py:52-99 parameters), red/NIR as T/S, f32
    quantization per pixel like the engine tile."""
    t = _trapezoid("red", 17.99, 26.37, 29.15, 33.35)
    s = _trapezoid("nir", 28.81, 32.27, 35.81, 36.79)
    d = depth
    d_score = (0.0 if d < 0 or d > 20 else
               min(max(min((d - 0.0) / 2.0, 1.0),
                       0.0) if d <= 2.0 else (1.0 if d <= 11.0 else
                                              max((d - 20.0) / (11.0 - 20.0), 0.0)), 1.0))
    return f"""
WITH {_kind1_px_cte(n_images)},
v AS (SELECT i, CAST(({t}) * ({s}) * {d_score!r} AS FLOAT) AS m FROM px)
SELECT printf('img%09d', i) AS image_id,
       ROUND(SUM(CAST(m AS DOUBLE)), 3) AS sum_s
FROM v GROUP BY i ORDER BY image_id"""


def fill_constant_sql(n_images: int, value: float = 7.5) -> str:
    """p5_fill_constant oracle: sum = value × pixel count, closed form."""
    return f"""
WITH {_kind1_px_cte(n_images)}
SELECT printf('img%09d', i) AS image_id,
       ROUND(COUNT(*) * CAST({value!r} AS DOUBLE), 2) AS sum_f
FROM px GROUP BY i ORDER BY image_id"""


def composite_bands_sql(n_images: int) -> str:
    """u2_composite_bands oracle: the [NIR, red] reorder — band-0 sum is
    the NIR closed form, band-1 the red one; integer-exact."""
    return f"""
WITH {_kind1_px_cte(n_images)}
SELECT printf('img%09d', i) AS image_id,
       CAST(SUM(nir) AS BIGINT) AS sum_b0,
       CAST(SUM(red) AS BIGINT) AS sum_b1
FROM px GROUP BY i ORDER BY image_id"""


def random_source_sql(n_images: int, bands: int = 2) -> str:
    """s5_random oracle: the seeded generator is deterministic across
    processes (md5+splitmix seed, PCG64 stream) but not SQL-expressible —
    single-process replay VALUES (m3/m4 precedent). The distributed claim
    under test: every worker reproduces the driver's raster exactly."""
    from .fixtures import tile_dims
    from .operators import pointwise
    op = pointwise.random_source(bands=bands)
    rows = []
    for i in _kind1_lossless_indices(n_images):
        w, h = tile_dims(i)
        out = op.fn(np.zeros((1, h, w), np.float32),
                    {"image_id": f"img{i:09d}"})
        rows.append(f"('img{i:09d}', "
                    f"{round(float(out.astype(np.float64).sum()), 3)!r})")
    return ("SELECT image_id, sum_r FROM (VALUES " + ", ".join(rows)
            + ") t(image_id, sum_r) ORDER BY image_id")


def training_csv_sql() -> str:
    """s4_training_csv oracle: VALUES replay of the deterministic CSV."""
    rows = [f"({(j * 7) % 250}, {(j * 13) % 240}, {j % 3})"
            for j in range(60)]
    return ("SELECT CAST(red AS BIGINT) AS red, CAST(nir AS BIGINT) AS nir, "
            "CAST(label AS BIGINT) AS label FROM (VALUES "
            + ", ".join(rows) + ") t(red, nir, label) "
            "ORDER BY red, nir, label")


def key_metadata_sql(n_images: int) -> str:
    """f16_key_metadata oracle: injected key properties are constant
    columns; the fmt distribution is the fixture's closed-form codec
    cycle (tile_fmt: kind-dependent modulo over i)."""
    wc, hc = _img_dims_case()
    return f"""
WITH imgs AS (
  SELECT i,
         CASE WHEN (i % 4) IN (1, 3) THEN
           (CASE (i // 4) % 4 WHEN 0 THEN 'raw' WHEN 1 THEN 'rle'
                              WHEN 2 THEN 'zlib' ELSE 'dct' END)
         ELSE
           (CASE (i // 4) % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'rle'
                              ELSE 'zlib' END)
         END AS fmt
  FROM generate_series(0, {n_images - 1}) t(i))
SELECT 'Landsat-8' AS sensor, 'WGS84' AS datum,
       0.48 AS band0_wavelength, fmt, COUNT(*) AS n
FROM imgs GROUP BY fmt ORDER BY fmt"""


def area_centroid_sql(n_aoi: int) -> str:
    """geo_area_centroid oracle: the AOI fixture RINGS are emitted as
    literal list inputs (fixture data, not answers) and DuckDB re-derives
    the shoelace area + signed-area centroid itself — independent math,
    same wrap-around closure and zero-area NULL rule as
    spatial.polygon_area_centroid."""
    from .fixtures import aoi_pdf
    pdf = aoi_pdf(n_aoi)
    vals = ", ".join(
        f"({int(r.aoi_id)}, {list(r.ring_x)!r}, {list(r.ring_y)!r})"
        .replace("[", "LIST_VALUE(").replace("]", ")")
        for r in pdf.itertuples())
    cross = "(rx[i] * ry[i % n + 1] - rx[i % n + 1] * ry[i])"

    def ring_sum(term: str) -> str:
        return f"list_sum(list_transform(range(1, n + 1), i -> {term}))"

    return f"""
WITH aoi AS (
  SELECT aoi_id, CAST(rx AS DOUBLE[]) AS rx, CAST(ry AS DOUBLE[]) AS ry,
         len(rx) AS n
  FROM (VALUES {vals}) t(aoi_id, rx, ry)),
s AS (
  SELECT aoi_id,
         {ring_sum(cross)} AS s2a,
         {ring_sum(f"(rx[i] + rx[i % n + 1]) * {cross}")} AS sx,
         {ring_sum(f"(ry[i] + ry[i % n + 1]) * {cross}")} AS sy
  FROM aoi)
SELECT aoi_id, ROUND(ABS(s2a) / 2.0, 6) AS area,
       ROUND(CASE WHEN ABS(s2a) > 0 THEN sx / (s2a * 3.0) END, 6) AS cx,
       ROUND(CASE WHEN ABS(s2a) > 0 THEN sy / (s2a * 3.0) END, 6) AS cy
FROM s ORDER BY aoi_id"""


def patchify_sql(tiles_x: int, tiles_y: int, tile: int,
                 patch_h: int, patch_w: int) -> str:
    """mm_patches oracle: re-derive every ViT patch of the f8 DEM fixture
    in closed form — patch position (pr, pc), sequence index, content sum
    and the row-major flatten-order checksum Σ v·((y%ph)·pw + (x%pw) + 1)
    (single-band fixture, so the band-major flatten index reduces to the
    in-patch row-major index). Matches multimodal.patchify_tiles."""
    w, h = tiles_x * tile, tiles_y * tile
    n_pc = tile // patch_w
    return f"""
WITH {_grid_cte(w, h)},
p AS (
  SELECT x // {tile} AS tx, y // {tile} AS ty,
         (y % {tile}) // {patch_h} AS pr, (x % {tile}) // {patch_w} AS pc,
         ((y % {patch_h}) * {patch_w} + (x % {patch_w}) + 1) AS wgt,
         {dem_z_sql('x', 'y')} AS v
  FROM grd)
SELECT CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
       CAST(pr AS INT) AS pr, CAST(pc AS INT) AS pc,
       CAST(pr * {n_pc} + pc AS INT) AS seq,
       ROUND(SUM(v), 5) AS psum, ROUND(SUM(v * wgt), 5) AS pchk
FROM p GROUP BY p.tx, p.ty, p.pr, p.pc ORDER BY tx, ty, seq"""


def augment_sql(tiles_x: int, tiles_y: int, tile: int,
                crop_h: int, crop_w: int, seed: int = 7) -> str:
    """mm_augment oracle: re-derive every augmented pixel of the f8 DEM
    fixture — the seeded decision draw (multimodal.augment_tiles layout:
    hflip = u%2, vflip = (u//2)%2, oy = (u//4)%(h−ch+1),
    ox = (u//4096)%(w−cw+1)) replays through the same md5-u60 the engine
    computes, then the source-pixel index math inverts the crop+flips.
    f32 storage (CAST to FLOAT then DOUBLE) matches the engine encode."""
    from .sampling import u60_sql
    key = f"(CAST(tx AS VARCHAR) || ',' || CAST(ty AS VARCHAR))"
    u = u60_sql(key, seed)
    return f"""
WITH tiles AS (
  SELECT t1.tx AS tx, t2.ty AS ty, {u} AS u
  FROM generate_series(0, {tiles_x - 1}) t1(tx),
       generate_series(0, {tiles_y - 1}) t2(ty)),
d AS (
  SELECT tx, ty,
         u % 2 AS hf, (u // 2) % 2 AS vf,
         (u // 4) % ({tile} - {crop_h} + 1) AS oy,
         (u // 4096) % ({tile} - {crop_w} + 1) AS ox
  FROM tiles),
og AS (
  SELECT d.*, r.r AS r, c.c AS c
  FROM d, generate_series(0, {crop_h - 1}) r(r),
       generate_series(0, {crop_w - 1}) c(c)),
px AS (
  SELECT tx, ty,
         CAST({dem_z_sql(
             f"tx * {tile} + ox + CASE WHEN hf = 1 THEN {crop_w} - 1 - c ELSE c END",
             f"ty * {tile} + oy + CASE WHEN vf = 1 THEN {crop_h} - 1 - r ELSE r END")}
              AS FLOAT) AS v
  FROM og)
SELECT CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
       ROUND(SUM(CAST(v AS DOUBLE)), 5) AS sum_v
FROM px GROUP BY 1, 2 ORDER BY tx, ty"""


# ------------------------------------------------------------ geodesic -----

_DEG2RAD_LIT = "0.017453292519943295"  # same literal as spatial._DEG2RAD


def lonlat_sql(id_expr: str, lat_seed: int = 7001,
               lon_seed: int = 7002) -> tuple[str, str]:
    """Deterministic WGS84-ish coordinates from a row key: lat in
    [-60, 60), lon in [-180, 180) — byte-identical to the engine's
    derivation (same u60 draw, same literal arithmetic, IEEE division
    by a power of two is exact)."""
    from .sampling import u60_sql
    ulat = u60_sql(id_expr, lat_seed)
    ulon = u60_sql(id_expr, lon_seed)
    two60 = "1152921504606846976.0"
    return (f"CAST({ulat} AS DOUBLE) / {two60} * 120.0 - 60.0",
            f"CAST({ulon} AS DOUBLE) / {two60} * 360.0 - 180.0")


def central_angle_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Haversine central angle (radians) — token-for-token the operation
    tree of spatial.central_angle, so the only cross-engine difference is
    libm rounding (~1e-15)."""
    c = _DEG2RAD_LIT
    sp = f"sin((({lat2}) - ({lat1})) * {c} / 2.0)"
    sl = f"sin((({lon2}) - ({lon1})) * {c} / 2.0)"
    h = (f"{sp} * {sp} + cos(({lat1}) * {c}) * cos(({lat2}) * {c})"
         f" * ({sl} * {sl})")
    return f"2.0 * asin(least(1.0, sqrt({h})))"


def geo_radius_sql(theta_rad: float, subset_mod: int, band_deg: float) -> str:
    """geo_radius_join oracle: brute-force haversine self-join over the
    same derived points — INDEPENDENT of the engine's cell-grid plan.
    The lat-band prefilter is a pure necessary condition (|dlat| <= the
    central angle), there to let DuckDB IEJoin instead of nested-loop at
    sf0.1; it cannot drop a true pair."""
    lat, lon = lonlat_sql("event_id")
    sig = central_angle_sql("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
WITH pts AS (
  SELECT event_id AS id, {lat} AS lat, {lon} AS lon
  FROM events WHERE event_id % {subset_mod} = 0),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b, {sig} AS sigma
  FROM pts a JOIN pts b
    ON b.lat >= a.lat - {band_deg} AND b.lat <= a.lat + {band_deg}
   AND a.id < b.id)
SELECT id_a, id_b, ROUND(sigma, 9) AS sigma_rad
FROM cand WHERE sigma <= {theta_rad!r}
ORDER BY id_a, id_b"""


def geo_track_sql() -> str:
    """geo_track_stats oracle: per-user trajectory stats re-derived with
    DuckDB window functions over the same deterministic coordinates."""
    lat, lon = lonlat_sql("event_id")
    sig = central_angle_sql("plat", "plon", "lat", "lon")
    return f"""
WITH pts AS (
  SELECT user_id, ts, event_id, {lat} AS lat, {lon} AS lon FROM events),
steps AS (
  SELECT user_id, lat, lon,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, COUNT(*) AS n_points,
       ROUND(COALESCE(SUM(CASE WHEN plat IS NOT NULL THEN {sig} END), 0.0),
             6) AS path_rad,
       ROUND(MIN(lat), 9) AS lat_min, ROUND(MAX(lat), 9) AS lat_max,
       ROUND(MIN(lon), 9) AS lon_min, ROUND(MAX(lon), 9) AS lon_max
FROM steps GROUP BY user_id ORDER BY user_id"""


# ----------------------------------------------------------- url dedup -----

def synth_url_sql(id_expr: str, dialect: str = "duckdb") -> str:
    """Deterministic messy-URL fixture from a row key (INPUT, not answer):
    scheme/case/www/trailing-slash/tracking-param/fragment variance all
    keyed on small moduli of the id, so rows in the same (id % 200) class
    point at the same logical resource through different surface forms.
    One definition, rendered for either engine (CAST type is the only
    dialect difference)."""
    s = "VARCHAR" if dialect == "duckdb" else "STRING"

    def c(e: str) -> str:
        return f"CAST({e} AS {s})"

    i = f"({id_expr})"
    host = f"'ex' || {c(f'{i} % 50')} || '.com'"
    return ("concat("
            f"CASE WHEN {i} % 3 = 0 THEN 'HTTPS://' ELSE 'http://' END, "
            f"CASE WHEN {i} % 2 = 0 THEN 'www.' ELSE '' END, "
            f"CASE WHEN {i} % 5 = 0 THEN upper({host}) ELSE {host} END, "
            f"'/p/', {c(f'{i} % 200')}, "
            f"CASE WHEN {i} % 11 = 0 THEN '/' ELSE '' END, "
            f"CASE WHEN {i} % 4 = 0 THEN '?utm_source=x&id=' || {c(f'{i} % 100')} "
            f"     WHEN {i} % 4 = 1 THEN '?id=' || {c(f'{i} % 100')} || '&utm_campaign=y' "
            f"     WHEN {i} % 4 = 2 THEN '?utm_medium=z' ELSE '' END, "
            f"CASE WHEN {i} % 7 = 0 THEN '#sec' ELSE '' END)")


def dedup_url_sql() -> str:
    """dedup_url oracle: build the same messy URLs, canonicalize with the
    DuckDB-rendered regexp chain, group by canonical form."""
    from .text import canonical_url_sql
    url = synth_url_sql("doc_id")
    return f"""
WITH u AS (
  SELECT doc_id, {canonical_url_sql(url)} AS canon FROM documents)
SELECT canon AS canon_url, COUNT(*) AS n_variants, MIN(doc_id) AS min_doc
FROM u GROUP BY canon ORDER BY canon"""


def polyfill_sql(ks: list[int], res: int) -> str:
    """geo_polyfill oracle: re-derives each AOI ring's edges in SQL
    (_aoi_vertices_sql), generates the bbox cell rectangle at ``res``
    (bbox bounds embedded as literals from the NumPy ring — a parameter
    choice, not a correctness claim), keeps cells whose CENTER passes
    the even-odd PIP (the flagship's HAVING-SUM crossing form), then
    compacts with the count closed form: an ancestor at level r is
    fully inside iff it has 4^(res-r) kept descendants, and is emitted
    iff full while its parent is not."""
    n = 1 << res
    arms = []
    for k in ks:
        xs, ys = fixtures.aoi_ring(k)
        i0, j0 = grid.lonlat_to_ij(float(np.min(xs)), float(np.min(ys)), res)
        i1, j1 = grid.lonlat_to_ij(float(np.max(xs)), float(np.max(ys)), res)
        arms.append(
            f"SELECT {k} AS k, ti.i, tj.j FROM "
            f"(SELECT unnest(range({int(i0)}, {int(i1) + 1})) AS i) ti, "
            f"(SELECT unnest(range({int(j0)}, {int(j1) + 1})) AS j) tj")
    cand = "\nUNION ALL\n".join(arms)
    si = grid._spread_sql("i", "duckdb")
    sj = grid._spread_sql("j", "duckdb")
    return f"""
WITH {_aoi_vertices_sql(max(ks) + 1)},
cand AS (
  SELECT k, i, j,
         (i + 0.5) / {float(n)!r} * 360.0 - 180.0 AS lon,
         (j + 0.5) / {float(n)!r} * 180.0 - 90.0 AS lat
  FROM ({cand})
),
kept AS (
  SELECT c.k, c.i, c.j
  FROM cand c JOIN edges e
    ON e.k = c.k AND (e.y0 > c.lat) <> (e.y1 > c.lat)
  GROUP BY c.k, c.i, c.j
  HAVING SUM(CASE WHEN c.lon < e.x0 + (c.lat - e.y0) * (e.x1 - e.x0)
                       / (e.y1 - e.y0) THEN 1 ELSE 0 END) % 2 = 1
),
zs AS (
  SELECT k, ({si} | ({sj} << 1)) AS z FROM kept
),
anc AS (
  SELECT k, tr.r, (z >> (2 * ({res} - tr.r))) AS za
  FROM zs, (SELECT unnest(range(0, {res + 1})) AS r) tr
),
fulls AS (
  SELECT k, r, za FROM anc GROUP BY k, r, za
  HAVING COUNT(*) = (1::BIGINT << (2 * ({res} - r)))
)
SELECT f.k AS aoi_id, ((f.za << 4) | f.r) AS cell, CAST(f.r AS INT) AS res
FROM fulls f
LEFT JOIN fulls p ON p.k = f.k AND p.r = f.r - 1 AND p.za = (f.za >> 2)
WHERE f.r = 0 OR p.za IS NULL
ORDER BY aoi_id, cell
""".strip()


def geo_knn_sql(k: int, subset_mod: int, band_deg: float) -> str:
    """geo_knn oracle: brute-force geodesic kNN — INDEPENDENT of the
    engine's two-phase grid/fallback plan. The lat band is a pure
    necessary condition (|dlat| ≤ sigma), sized well above the measured
    max k-th-NN distance; if a selected row ever exceeded the band the
    CASE turns its neighbor NULL, which breaks the value compare loudly
    instead of silently dropping a true neighbor."""
    import math
    band_rad = math.radians(band_deg)
    lat, lon = lonlat_sql("event_id")
    sig = central_angle_sql("a.lat", "a.lon", "b.lat", "b.lon")
    return f"""
WITH pts AS (
  SELECT event_id AS id, {lat} AS lat, {lon} AS lon
  FROM events WHERE event_id % {subset_mod} = 0),
cand AS (
  SELECT a.id AS id, b.id AS nbr, {sig} AS sigma
  FROM pts a JOIN pts b
    ON b.lat >= a.lat - {band_deg} AND b.lat <= a.lat + {band_deg}
   AND a.id <> b.id),
ranked AS (
  SELECT id, nbr, sigma,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY sigma, nbr) AS rank
  FROM cand)
SELECT id, CAST(rank AS INT) AS rank,
       CASE WHEN sigma <= {band_rad!r} THEN nbr END AS nbr,
       ROUND(sigma, 9) AS sigma_rad
FROM ranked WHERE rank <= {k}
ORDER BY id, rank"""


def shards_sql(n_images: int, capacity: int, seed: int = 0x5A4D,
               n_buckets: int = 2) -> str:
    """mm_shards oracle: the per-image byte sizes/formats/caption lengths
    enter as literal INPUTS (pure functions of the fixture generator —
    the ring-literal precedent); DuckDB independently replays the packing
    assignment (pack_sql: same u60 draw, bucket salt, integer prefix
    math) and re-derives each shard's manifest, including the
    order-pinning names_md5. The tar BYTES are checked outside SQL
    (pytest reads the archives back with the stdlib and compares members
    byte-for-byte)."""
    from . import fixtures
    from .sampling import pack_sql
    pdf = fixtures.images_pdf(np.arange(n_images))
    rows = ", ".join(
        f"('{r.image_id}', {len(r.bytes)}, '{r.fmt}', "
        f"{len(str(r.caption).encode('utf-8'))})"
        for r in pdf.itertuples())
    inner = pack_sql("imgs", "(nbytes + cap_len)", capacity, "image_id",
                     seed, "image_id, nbytes, fmt, cap_len",
                     n_buckets=n_buckets)
    return f"""
WITH imgs(image_id, nbytes, fmt, cap_len) AS (VALUES {rows}),
assigned AS ({inner})
SELECT pack_bucket, pack_bin,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(nbytes + cap_len) AS BIGINT) AS payload_bytes,
       md5(string_agg(image_id || '.' || fmt || ',' || image_id || '.txt;',
                      '' ORDER BY pack_offset, image_id)) AS names_md5
FROM assigned GROUP BY 1, 2
ORDER BY pack_bucket, pack_bin"""
