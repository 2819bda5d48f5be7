"""Hierarchical Z-order (quadtree) cell index, built from scratch.

Plays the role H3/S2 plays in the north rule: a deterministic, documented,
vectorizable lat/lng → cell-id mapping with parent/children/neighbor algebra,
standing in for the reference's request-grid addressing
(/root/reference/functions/utils.py:35-40 block-extent math) and its hex
binning prototype (/root/reference/functions/HexagonPixels.py:49-78).

Bit layout of a cell id (signed int64, always non-negative):

    cell = (morton << 4) | resolution        resolution ∈ [0, 15]

where ``morton`` interleaves the bits of the column index ``i`` (longitude
axis, even bit positions) and row index ``j`` (latitude axis, odd positions)
at ``resolution`` bits each:

    i = clamp(floor((lon + 180) / 360 * 2^r), 0, 2^r - 1)
    j = clamp(floor((lat +  90) / 180 * 2^r), 0, 2^r - 1)

Three bit-for-bit-identical implementations are provided:

- :func:`encode_np`      — vectorized NumPy (used inside Arrow kernels),
- :func:`encode_col`     — pure Spark ``Column`` expression (JVM-side,
                           whole-stage-codegen'd — the scale path: NO UDF),
- :func:`encode_sql`     — SQL text for Spark SQL or DuckDB (oracle parity).

All three use the same IEEE-754 double arithmetic in the same order, so the
cell ids match bit-for-bit (BASELINE.json requires bit-exact cell ids).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_RES = 15
RES_BITS = 4

# magic-number bit spreading: 16 bits → even positions of 32 bits
_SPREAD_MASKS = (
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


# ------------------------------------------------------------- NumPy -------

def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    for shift, mask in _SPREAD_MASKS:
        v = (v | (v << np.uint64(shift))) & np.uint64(mask)
    return v


def _compact_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    for shift, mask in reversed(_SPREAD_MASKS):
        v = (v | (v >> np.uint64(shift))) & np.uint64(
            {1: 0x3333333333333333, 2: 0x0F0F0F0F0F0F0F0F,
             4: 0x00FF00FF00FF00FF, 8: 0x0000FFFF0000FFFF}[shift])
    return v


def lonlat_to_ij(lon, lat, res: int):
    n = 1 << res
    i = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    j = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n)
    i = np.clip(i, 0, n - 1).astype(np.int64)
    j = np.clip(j, 0, n - 1).astype(np.int64)
    return i, j


def ij_to_cell(i: np.ndarray, j: np.ndarray, res: int) -> np.ndarray:
    morton = _spread_np(np.asarray(i)) | (_spread_np(np.asarray(j)) << np.uint64(1))
    return ((morton << np.uint64(RES_BITS)) | np.uint64(res)).astype(np.int64)


def encode_np(lon, lat, res: int) -> np.ndarray:
    """Vectorized lat/lng → cell id (int64 ndarray)."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0,{MAX_RES}]")
    i, j = lonlat_to_ij(lon, lat, res)
    return ij_to_cell(i, j, res)


def cell_res(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) & (2**RES_BITS - 1)).astype(np.int64)


def cell_to_ij(cell):
    z = np.asarray(cell, dtype=np.int64).astype(np.uint64) >> np.uint64(RES_BITS)
    return _compact_np(z).astype(np.int64), _compact_np(z >> np.uint64(1)).astype(np.int64)


def parent(cell, parent_res: int) -> np.ndarray:
    """Ancestor cell at a coarser resolution (LoD-pyramid rollup key,
    analog of the reference's levelOfDetails
    /root/reference/functions/Reference.py:157)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell_res(cell)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be coarser (≤ cell res)")
    z = cell.astype(np.uint64) >> np.uint64(RES_BITS)
    zp = z >> (2 * (res.astype(np.uint64) - np.uint64(parent_res)))
    return ((zp << np.uint64(RES_BITS)) | np.uint64(parent_res)).astype(np.int64)


def children(cell: int) -> np.ndarray:
    """The 4 direct children of one cell."""
    res = int(cell_res(cell))
    if res >= MAX_RES:
        raise ValueError("already at max resolution")
    z = np.uint64(cell) >> np.uint64(RES_BITS)
    kids = (z << np.uint64(2)) | np.arange(4, dtype=np.uint64)
    return ((kids << np.uint64(RES_BITS)) | np.uint64(res + 1)).astype(np.int64)


def neighbors(cell, ring: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance ``ring`` (excluding self) at the
    same resolution. Longitude wraps; latitude clamps (rows outside the grid
    are dropped). Vectorized over an array of cells → (n, k) int64 with -1
    padding where a neighbor fell off the top/bottom."""
    cells = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res = int(cell_res(cells[0]))
    all_res = np.asarray(cell_res(cells))
    if not (all_res == res).all():
        # the vectorized wrap/clamp uses ONE grid width — silently applying
        # cells[0]'s resolution to a mixed array returns wrong neighbors
        # for every other resolution present
        raise ValueError("neighbors() requires a uniform-resolution cell "
                         f"array (got resolutions {sorted(set(all_res.tolist()))})")
    n = 1 << res
    i, j = cell_to_ij(cells)
    offs = [(di, dj) for dj in range(-ring, ring + 1)
            for di in range(-ring, ring + 1) if not (di == 0 and dj == 0)]
    out = np.full((cells.size, len(offs)), -1, dtype=np.int64)
    for k, (di, dj) in enumerate(offs):
        ii = (i + di) % n
        jj = j + dj
        ok = (jj >= 0) & (jj < n)
        enc = ij_to_cell(ii, np.clip(jj, 0, n - 1), res)
        out[:, k] = np.where(ok, enc, -1)
    if n <= 2 * ring:
        # degenerate tiny grid (n columns ≤ ring span): the longitude wrap
        # makes distinct offsets collide — the same cell would be listed
        # several times, or the cell as its own neighbor. Dedupe per row
        # and drop self (−1-pad the freed slots).
        for r in range(out.shape[0]):
            row = out[r]
            seen: set = {int(cells[r])}
            for k in range(row.size):
                v = int(row[k])
                if v in seen:
                    row[k] = -1
                elif v >= 0:
                    seen.add(v)
    if np.isscalar(cell) or np.asarray(cell).ndim == 0:
        row = out[0]
        return row[row >= 0]
    return out


def cell_bounds(cell):
    """(lon_min, lat_min, lon_max, lat_max) of a cell (or array of cells)."""
    cells = np.asarray(cell, dtype=np.int64)
    res = cell_res(cells)
    n = (np.int64(1) << res).astype(np.float64)
    i, j = cell_to_ij(cells)
    lon0 = i / n * 360.0 - 180.0
    lat0 = j / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> np.ndarray:
    """All cells at ``res`` whose extent intersects the bbox — the spatial
    predicate → cell-range rewrite (stands in for the reference's
    envelope-intersects pushdown /root/reference/functions/utils.py:213-229)."""
    i0, j0 = lonlat_to_ij(xmin, ymin, res)
    i1, j1 = lonlat_to_ij(xmax, ymax, res)
    ii = np.arange(int(i0), int(i1) + 1, dtype=np.int64)
    jj = np.arange(int(j0), int(j1) + 1, dtype=np.int64)
    gi, gj = np.meshgrid(ii, jj, indexing="ij")
    return ij_to_cell(gi.reshape(-1), gj.reshape(-1), res)


# ------------------------------------------------------- Spark Column ------

def _spread_col(c: Column) -> Column:
    for shift, mask in _SPREAD_MASKS:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def lonlat_to_ij_col(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """Column form of :func:`lonlat_to_ij`, same arithmetic in the same order."""
    n = 1 << res
    i, j = (F.least(F.greatest(F.floor((v + F.lit(off)) / F.lit(span) * F.lit(float(n))),
                               F.lit(0)), F.lit(n - 1)).cast("long")
            for v, off, span in ((lon, 180.0, 360.0), (lat, 90.0, 180.0)))
    return i, j


def ij_to_cell_col(i: Column, j: Column, res: int) -> Column:
    """Column form of :func:`ij_to_cell` (long Columns in, cell id out)."""
    morton = _spread_col(i).bitwiseOR(F.shiftleft(_spread_col(j), 1))
    return F.shiftleft(morton, RES_BITS).bitwiseOR(F.lit(res))


def encode_col(lon: Column, lat: Column, res: int) -> Column:
    """Cell id as a pure Column expression — stays inside whole-stage
    codegen; this is how a 10^12-row cell-encode should run (no Python)."""
    return ij_to_cell_col(*lonlat_to_ij_col(lon, lat, res), res).alias("cell")


def parent_col(cell: Column, cell_resolution: int, parent_res: int) -> Column:
    shift = 2 * (cell_resolution - parent_res)
    z = F.shiftright(cell, RES_BITS)
    return F.shiftleft(F.shiftright(z, shift), RES_BITS).bitwiseOR(F.lit(parent_res))


# ---------------------------------------------------------------- SQL ------

def _spread_sql(expr: str, dialect: str) -> str:
    shl = (lambda e, s: f"({e} << {s})") if dialect == "duckdb" else \
          (lambda e, s: f"shiftleft({e}, {s})")
    for shift, mask in _SPREAD_MASKS:
        expr = f"(({expr} | {shl(expr, shift)}) & {mask})"
    return expr


def encode_sql(lon_expr: str, lat_expr: str, res: int, dialect: str) -> str:
    """SQL text computing the identical cell id. ``dialect`` ∈
    {'spark', 'duckdb'} — used for the DuckDB-oracle parity checks."""
    assert dialect in ("spark", "duckdb")
    n = 1 << res
    cast = "BIGINT"
    i = (f"CAST(LEAST(GREATEST(FLOOR(({lon_expr} + 180.0) / 360.0 * {float(n)}), 0), {n - 1}) AS {cast})")
    j = (f"CAST(LEAST(GREATEST(FLOOR(({lat_expr} + 90.0) / 180.0 * {float(n)}), 0), {n - 1}) AS {cast})")
    si = _spread_sql(i, dialect)
    sj = _spread_sql(j, dialect)
    if dialect == "duckdb":
        return f"((({si} | ({sj} << 1)) << {RES_BITS}) | {res})"
    return f"(shiftleft(({si} | shiftleft({sj}, 1)), {RES_BITS}) | {res})"


# ----------------------------------------------------------- hex grid ------

def hex_encode(lon, lat, size_deg: float) -> np.ndarray:
    """Flat-top axial hex binning (vectorized cube-rounding) — functional
    analog of the reference's two-interleaved-hex-grid aggregation
    (/root/reference/functions/HexagonPixels.py:49-78). Returns packed
    ``(q << 32) | (r & 0xFFFFFFFF)`` int64 hex ids."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    q = (2.0 / 3.0) * lon / size_deg
    r = (-1.0 / 3.0 * lon + np.sqrt(3.0) / 3.0 * lat) / size_deg
    # cube rounding
    x, z = q, r
    y = -x - z
    rx, ry, rz = np.round(x), np.round(y), np.round(z)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = ~fix_x & (dz > dy)
    rx = np.where(fix_x, -ry - rz, rx)
    rz = np.where(fix_z, -rx - ry, rz)
    qi = rx.astype(np.int64)
    ri = rz.astype(np.int64)
    return (qi << np.int64(32)) | (ri & np.int64(0xFFFFFFFF))


# ------------------------------------------- hierarchical compact cover ----

def _cover_ranges(xmin: float, ymin: float, xmax: float, ymax: float,
                  res: int) -> tuple[int, int, int, int]:
    i0, j0 = lonlat_to_ij(xmin, ymin, res)
    i1, j1 = lonlat_to_ij(xmax, ymax, res)
    return int(i0), int(i1), int(j0), int(j1)


def compact_cover_np(xmin: float, ymin: float, xmax: float, ymax: float,
                     res: int) -> np.ndarray:
    """Mixed-resolution compaction of :func:`cover_bbox` — the H3/S2
    ``compact()`` analog: the minimal set of cells (coarsest possible,
    resolutions 0..res) whose descendant sets at ``res`` exactly tile the
    bbox cover. Closed form, no iteration: a cell at resolution ``r`` is
    emitted iff its res-``res`` descendant index range lies inside the
    cover rectangle ("fully covered") while its parent's does not —
    equivalent to iterated complete-sibling-group merging from the
    uniform cover, because a parent group completes iff the parent is
    fully covered (pytest checks equivalence against the naive iterative
    merge). A compact cover is what an index-metadata layer stores per
    AOI: O(perimeter) cells instead of O(area)."""
    i0, i1, j0, j1 = _cover_ranges(xmin, ymin, xmax, ymax, res)
    out = []
    for r in range(res + 1):
        sh = res - r
        ii = np.arange(i0 >> sh, (i1 >> sh) + 1, dtype=np.int64)
        jj = np.arange(j0 >> sh, (j1 >> sh) + 1, dtype=np.int64)
        gi, gj = np.meshgrid(ii, jj, indexing="ij")
        gi, gj = gi.reshape(-1), gj.reshape(-1)
        full = (((gi << sh) >= i0) & ((gi << sh) + (1 << sh) - 1 <= i1)
                & ((gj << sh) >= j0) & ((gj << sh) + (1 << sh) - 1 <= j1))
        if r == 0:
            keep = full
        else:
            sh2 = sh + 1
            pi, pj = gi >> 1, gj >> 1
            pfull = (((pi << sh2) >= i0)
                     & ((pi << sh2) + (1 << sh2) - 1 <= i1)
                     & ((pj << sh2) >= j0)
                     & ((pj << sh2) + (1 << sh2) - 1 <= j1))
            keep = full & ~pfull
        if keep.any():
            out.append(ij_to_cell(gi[keep], gj[keep], r))
    # cells at res that are in the cover but never fully covered do not
    # exist: at r == res, "fully covered" == membership in the rectangle
    return np.concatenate(out) if out else np.empty(0, np.int64)


def _runs_where(j, lo, hi, w, want: int):
    """Maximal runs of each row ``j`` where the summed weight ``w`` of the
    runs ``[lo, hi)`` covering a column equals ``want`` (> 0): one sorted
    sweep of +w/-w events, so touching runs merge."""
    if not len(j):
        return j, lo, hi
    key = np.concatenate([j, j])
    x = np.concatenate([lo, hi])
    d = np.concatenate([w, -w])
    o = np.lexsort((x, key))
    key, x, d = key[o], x[o], d[o]
    at = np.flatnonzero(np.r_[True, (key[1:] != key[:-1]) | (x[1:] != x[:-1])])
    d = np.add.reduceat(d, at)
    at = at[d != 0]  # one run ending where another starts: no boundary
    key, x, d = key[at], x[at], d[d != 0]
    # every row nets to zero, so one running sum serves all rows, and a
    # run at ``want`` > 0 always ends inside its own row
    s = np.flatnonzero(np.cumsum(d)[:-1] == want)
    return key[s], x[s], x[s + 1]


def compact_runs(runs, res: int) -> np.ndarray:
    """H3/S2 ``compact()`` of a res-``res`` cell set given as row runs
    ``(j, lo, hi)``: half-open column runs ``[lo, hi)`` per cell row
    ``j``, disjoint within a row (touching is fine). Closed form, level by
    level: one level up, the full blocks are the aligned intersection of
    the two child rows' full runs, and a block is emitted when it is full
    and its parent is not — the iterated complete-sibling merge in
    O(runs × levels), never O(area). Returns the cell ids."""
    j, lo, hi = (np.asarray(a, dtype=np.int64) for a in runs)
    out = []
    for r in range(res, -1, -1):
        if not len(j):
            break
        one = np.ones_like(j)
        # full parents (none above the root): both child rows cover the
        # aligned column pair
        pj, plo, phi = _runs_where(j >> 1, lo, hi, one, 2) if r else (j[:0],) * 3
        plo, phi = (plo + 1) >> 1, phi >> 1
        ok = plo < phi
        pj, plo, phi = pj[ok], plo[ok], phi[ok]
        # emit the full cells not under a full parent
        ej, elo, ehi = _runs_where(
            np.concatenate([j, 2 * pj, 2 * pj + 1]),
            np.concatenate([lo, 2 * plo, 2 * plo]),
            np.concatenate([hi, 2 * phi, 2 * phi]),
            np.concatenate([one, np.full(2 * len(pj), 2)]), 1)
        n = ehi - elo
        i = np.arange(n.sum()) + np.repeat(elo - (np.cumsum(n) - n), n)
        out.append(ij_to_cell(i, np.repeat(ej, n), r))
        j, lo, hi = pj, plo, phi
    return np.concatenate(out) if out else np.empty(0, np.int64)


def compact_cover_df(spark, xmin: float, ymin: float, xmax: float,
                     ymax: float, res: int):
    """Distributed :func:`compact_cover_np`: the cover rectangle, one run
    per cell row, goes through :func:`compact_runs` inside one
    ``mapInPandas`` — O(rows × levels) work, never O(area) (a res-15
    hemisphere cover has ~10^8 rectangle cells but ~10^4 rows). The
    O(area) NumPy form is the semantic reference; pytest pins
    df == np."""
    i0, i1, j0, j1 = _cover_ranges(xmin, ymin, xmax, ymax, res)

    def cover(batches):
        for pdf in batches:
            if len(pdf):
                j = np.arange(j0, j1 + 1)
                cells = compact_runs((j, np.full_like(j, i0),
                                      np.full_like(j, i1 + 1)), res)
                yield pd.DataFrame({"cell": cells,
                                    "res": cell_res(cells).astype(np.int32)})

    return spark.range(1, numPartitions=1).mapInPandas(cover, T.StructType([
        T.StructField("cell", T.LongType()),
        T.StructField("res", T.IntegerType(), False)]))


def compact_cover_sql(xmin: float, ymin: float, xmax: float, ymax: float,
                      res: int) -> str:
    """DuckDB replay of the compact cover: the cover rectangle is
    re-derived from the bbox literals with the identical clamp/floor
    arithmetic, then one UNION ALL arm per resolution applies the same
    integer containment tests."""
    n = 1 << res
    def _ij(e: str, off: float, span: float) -> str:
        return (f"CAST(LEAST(GREATEST(FLOOR(({e} + {off}) / {span} * "
                f"{float(n)}), 0), {n - 1}) AS BIGINT)")
    p = (f"SELECT {_ij(repr(xmin), 180.0, 360.0)} AS i0, "
         f"{_ij(repr(xmax), 180.0, 360.0)} AS i1, "
         f"{_ij(repr(ymin), 90.0, 180.0)} AS j0, "
         f"{_ij(repr(ymax), 90.0, 180.0)} AS j1")
    arms = []
    for r in range(res + 1):
        sh = res - r
        full = (f"(i << {sh}) >= p.i0 AND (i << {sh}) + {(1 << sh) - 1} <= p.i1 "
                f"AND (j << {sh}) >= p.j0 AND (j << {sh}) + {(1 << sh) - 1} <= p.j1")
        if r == 0:
            cond = full
        else:
            sh2 = sh + 1
            cond = (f"({full}) AND NOT ("
                    f"((i >> 1) << {sh2}) >= p.i0 AND "
                    f"((i >> 1) << {sh2}) + {(1 << sh2) - 1} <= p.i1 AND "
                    f"((j >> 1) << {sh2}) >= p.j0 AND "
                    f"((j >> 1) << {sh2}) + {(1 << sh2) - 1} <= p.j1)")
        si = _spread_sql("i", "duckdb")
        sj = _spread_sql("j", "duckdb")
        arms.append(
            f"SELECT ((({si} | ({sj} << 1)) << {RES_BITS}) | {r}) AS cell, "
            f"{r} AS res\n"
            f"FROM (SELECT unnest(range((SELECT i0 >> {sh} FROM p), "
            f"(SELECT i1 >> {sh} FROM p) + 1)) AS i) ti, "
            f"(SELECT unnest(range((SELECT j0 >> {sh} FROM p), "
            f"(SELECT j1 >> {sh} FROM p) + 1)) AS j) tj, p\n"
            f"WHERE {cond}")
    body = "\nUNION ALL\n".join(arms)
    return f"WITH p AS ({p})\n{body}\nORDER BY cell"
