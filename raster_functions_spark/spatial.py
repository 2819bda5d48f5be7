"""Spatial join layer: point-in-polygon, cell-cover joins, zonal ops.

Re-expresses the reference's vector↔raster machinery — the
envelope-intersects feature query (/root/reference/functions/utils.py:213-229),
zonal attribute lookup (utils.py:149-258), ZonalRemap's per-zone interval
probe (/root/reference/functions/deprecated/ZonalRemap.py:166-201) and
RasterizeAttributes' left-outer enrichment
(/root/reference/functions/deprecated/RasterizeAttributes.py:135-169) —
as Spark joins:

- **broadcast path** (small vector side): bbox prefilter + exact vectorized
  crossing-number PIP inside one mapInPandas — zero shuffle.
- **partitioned path** (large vector side): polygons → bbox cell covers at
  a chosen resolution, built in the JVM as Column expressions (the
  spatial-predicate→cell-range rewrite, SURVEY.md O4), shuffle equi-join on
  cell id (AQE skew-join splits hot cells), the rings joined to the
  candidates only, exact PIP refinement after the joins.

The crossing-number test is implemented from scratch in NumPy (no shapely
in the environment; the north rule requires from-scratch anyway).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import grid


# ------------------------------------------------------------ geometry -----

def point_in_polygon_np(px: np.ndarray, py: np.ndarray,
                        ring_x: np.ndarray, ring_y: np.ndarray) -> np.ndarray:
    """Vectorized even-odd (crossing-number) test of N points against ONE
    polygon ring. Boundary-inclusive on the 'lower' edge per the standard
    half-open rule → deterministic assignment for points on shared edges."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x0 = np.asarray(ring_x, dtype=np.float64)
    y0 = np.asarray(ring_y, dtype=np.float64)
    x1 = np.roll(x0, -1)
    y1 = np.roll(y0, -1)
    inside = np.zeros(px.shape, dtype=bool)
    for ex0, ey0, ex1, ey1 in zip(x0, y0, x1, y1):
        crosses = ((ey0 > py) != (ey1 > py))
        if not crosses.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = ex0 + (py - ey0) * (ex1 - ex0) / (ey1 - ey0)
        inside ^= crosses & (px < xint)
    return inside


def polygon_runs(xs, ys, res: int):
    """Scanline cover of one ring at ``res`` (Raptor, VLDB'19): per cell
    row ``j`` of the ring's bbox, the half-open column runs ``[lo, hi)``
    of cells whose CENTER passes the even-odd test. Each edge visits only
    the rows its y-span crosses and uses :func:`point_in_polygon_np`'s
    exact ``xint`` arithmetic, so membership is bit-identical to testing
    every centre at O(edges + crossings), not O(bbox area). Returns
    ``(j, lo, hi)`` int64 arrays sorted by ``(j, lo)``; runs of one row
    never touch."""
    n = 1 << res
    x0 = np.asarray(xs, dtype=np.float64)
    y0 = np.asarray(ys, dtype=np.float64)
    i0, j0 = grid.lonlat_to_ij(float(x0.min()), float(y0.min()), res)
    i1, j1 = grid.lonlat_to_ij(float(x0.max()), float(y0.max()), res)
    lon = (np.arange(i0, i1 + 1) + 0.5) / n * 360.0 - 180.0
    lat = (np.arange(j0, j1 + 1) + 0.5) / n * 180.0 - 90.0
    rows, cols = [], []
    for ex0, ey0, ex1, ey1 in zip(x0, y0, np.roll(x0, -1), np.roll(y0, -1)):
        # the edge crosses the centre rows with min(ey) <= lat < max(ey)
        a, b = np.searchsorted(lat, sorted((ey0, ey1)))
        xint = ex0 + (lat[a:b] - ey0) * (ex1 - ex0) / (ey1 - ey0)
        rows.append(np.arange(a, b))
        cols.append(np.searchsorted(lon, xint))  # centres with lon < xint
    # a crossing flips the parity of every centre left of it; two at the
    # same (row, column) cancel, so keep the odd-multiplicity flips
    key, cnt = np.unique(np.concatenate(rows) * (lon.size + 1)
                         + np.concatenate(cols), return_counts=True)
    j, t = np.divmod(key[cnt % 2 == 1], lon.size + 1)
    # a closed ring crosses each row an even number of times: the sorted
    # flips pair up into runs
    return j[0::2] + j0, t[0::2] + i0, t[1::2] + i0


def polygon_cover_cells(ring_x, ring_y, res: int) -> np.ndarray:
    """Cells at ``res`` intersecting the polygon's bbox: the NumPy
    reference of the partitioned join's JVM cover (_bbox_cover), which
    must produce the same cells per AOI. Bbox cover is the analog of the
    reference's envelope-intersects pushdown (utils.py:213-229)."""
    return grid.cover_bbox(float(np.min(ring_x)), float(np.min(ring_y)),
                           float(np.max(ring_x)), float(np.max(ring_y)), res)


def polygon_area_centroid(df: DataFrame, x_col: str = "ring_x",
                          y_col: str = "ring_y", area_col: str = "area",
                          cx_col: str = "cx", cy_col: str = "cy") -> DataFrame:
    """Vector analytics over polygon ring columns: shoelace area and the
    area-weighted centroid — the raster→vector side's per-feature
    geometry attributes (the reference consumes these as feature-service
    fields, e.g. deprecated/ZonalRemap.py zone attributes; this computes
    them from the ring itself). Rings are stored OPEN (fixtures.aoi_ring)
    — closure is implicit via the wrap-around index. Orientation-safe:
    area = |signed|, centroid divides by the SIGNED area so CW and CCW
    rings give identical results. Degenerate (zero-area) rings yield
    NULL centroids rather than a division blow-up.

    Pure JVM expression per row, zero shuffle, embarrassingly parallel.
    The array HOF runs interpreted, but over ring-length lists (5-12
    vertices here, 10²-10³ for real parcel data) — bounded per-row work
    inline with the scan, never a join amplification."""
    n = f"size({x_col})"
    j = f"(i % {n} + 1)"
    cross = (f"(element_at({x_col}, i) * element_at({y_col}, {j})"
             f" - element_at({x_col}, {j}) * element_at({y_col}, i))")

    def ring_sum(term: str) -> str:
        return (f"aggregate(sequence(1, {n}), CAST(0.0 AS DOUBLE),"
                f" (acc, i) -> acc + {term})")

    sx = ring_sum(f"(element_at({x_col}, i) + element_at({x_col}, {j})) * {cross}")
    sy = ring_sum(f"(element_at({y_col}, i) + element_at({y_col}, {j})) * {cross}")
    out = (df.withColumn("_s2a", F.expr(ring_sum(cross)))
           .withColumn(area_col, F.abs(F.col("_s2a")) / 2.0)
           .withColumn(cx_col, F.when(F.abs("_s2a") > 0,
                                      F.expr(sx) / (F.col("_s2a") * 3.0)))
           .withColumn(cy_col, F.when(F.abs("_s2a") > 0,
                                      F.expr(sy) / (F.col("_s2a") * 3.0))))
    return out.drop("_s2a")


def _res_from_median_span(med: float, max_cells_per_aoi: int = 64) -> int:
    med = med or 1e-6
    side = int(np.ceil(np.sqrt(max_cells_per_aoi)))
    return int(np.clip(np.floor(np.log2(360.0 / med * side)), 0, grid.MAX_RES))


def auto_cover_res(aoi_pdf: pd.DataFrame, max_cells_per_aoi: int = 64) -> int:
    """Pick a cover resolution so the median AOI covers ≲ max_cells cells
    (driver-side pandas variant, for already-collected small AOI sets)."""
    spans = np.maximum(aoi_pdf["xmax"] - aoi_pdf["xmin"],
                       (aoi_pdf["ymax"] - aoi_pdf["ymin"]) * 2.0)
    return _res_from_median_span(float(np.median(spans)), max_cells_per_aoi)


def auto_cover_res_distributed(aoi: DataFrame, max_cells_per_aoi: int = 64) -> int:
    """Distributed variant for the partitioned path's LARGE vector side:
    the median bbox span comes from approxQuantile (a tiny aggregate job —
    no row of the AOI table ever reaches the driver; at 10^7 polygons the
    previous toPandas() would OOM the driver before the join started)."""
    spans = aoi.select(F.greatest(F.col("xmax") - F.col("xmin"),
                                  (F.col("ymax") - F.col("ymin")) * 2.0)
                       .alias("span"))
    med = spans.approxQuantile("span", [0.5], 0.01)[0]
    return _res_from_median_span(float(med), max_cells_per_aoi)


# ------------------------------------------------------- PIP join API ------

def broadcast_aoi(spark, aoi: DataFrame, limit: int | None = None):
    """Collect + broadcast the AOI table as dense arrays — built ONCE per
    query (a streaming sink must hoist this out of its per-batch closure:
    re-collecting and re-broadcasting a static dim per microbatch leaks
    one broadcast per batch).

    ``limit`` makes the collect the routing probe too: it collects at most
    ``limit + 1`` rows in ONE job and returns None (no broadcast) when more
    than ``limit`` come back, so a caller routes on the result instead of
    running a separate count. The driver never holds more than one row
    beyond what the broadcast route would hold anyway."""
    cols = aoi.select("aoi_id", "ring_x", "ring_y", "xmin", "ymin", "xmax", "ymax")
    if limit is not None:
        cols = cols.limit(limit + 1)
    aoi_pdf = cols.toPandas()
    if limit is not None and len(aoi_pdf) > limit:
        return None
    return spark.sparkContext.broadcast(aoi_arrays(aoi_pdf))


def aoi_arrays(aoi_pdf: pd.DataFrame) -> dict:
    """The dense-array form of an AOI table that pip_assign_np reads (the
    broadcast_aoi payload)."""
    return {
        "aoi_id": aoi_pdf["aoi_id"].to_numpy(np.int64),
        "xmin": aoi_pdf["xmin"].to_numpy(np.float64),
        "ymin": aoi_pdf["ymin"].to_numpy(np.float64),
        "xmax": aoi_pdf["xmax"].to_numpy(np.float64),
        "ymax": aoi_pdf["ymax"].to_numpy(np.float64),
        "rings": [(np.asarray(rx, np.float64), np.asarray(ry, np.float64))
                  for rx, ry in zip(aoi_pdf["ring_x"], aoi_pdf["ring_y"])],
    }


def pip_assign_np(a: dict, x: np.ndarray, y: np.ndarray,
                  chunk_bytes: int = 16 << 20):
    """THE broadcast-side PIP kernel (one definition — flagship fused
    paths and pip_join_broadcast all call this): AOI-chunked bbox
    prefilter (bounds the N×K boolean transient at ~chunk_bytes for
    arbitrarily many polygons) + exact crossing-number test per candidate
    polygon. Returns (point_idx, aoi_id) match arrays, polygon-ascending
    order (identical to the historical unchunked iteration order)."""
    n = x.size
    ridx_list, aid_list = [], []
    chunk = max(1, chunk_bytes // max(8 * n, 1))
    for k0 in range(0, a["aoi_id"].size, chunk):
        sl = slice(k0, k0 + chunk)
        cand = ((x[:, None] >= a["xmin"][None, sl])
                & (x[:, None] <= a["xmax"][None, sl])
                & (y[:, None] >= a["ymin"][None, sl])
                & (y[:, None] <= a["ymax"][None, sl]))
        for kk in np.unique(np.nonzero(cand)[1]):
            k = k0 + kk
            pts = np.nonzero(cand[:, kk])[0]
            rx, ry = a["rings"][k]
            hit = point_in_polygon_np(x[pts], y[pts], rx, ry)
            sel = pts[hit]
            ridx_list.append(sel)
            aid_list.append(np.full(sel.size, a["aoi_id"][k], dtype=np.int64))
    ridx = np.concatenate(ridx_list) if ridx_list else np.empty(0, np.int64)
    aid = np.concatenate(aid_list) if aid_list else np.empty(0, np.int64)
    return ridx, aid


def pip_join_broadcast(points: DataFrame, aoi: DataFrame | Broadcast,
                       x_col: str = "lon", y_col: str = "lat",
                       keep_unmatched: bool = False) -> DataFrame:
    """Point-in-polygon join with a broadcast vector side.

    ``aoi`` is the AOI table or a ``broadcast_aoi`` result (pip_join passes
    the broadcast its routing collect already built). The whole AOI table
    is shipped once per executor (Spark broadcast);
    each Arrow batch of points does a vectorized bbox prefilter against ALL
    polygons at once (N×K boolean), then exact crossing-number PIP only on
    bbox hits. Emits one row per (point, containing AOI). No shuffle at all —
    the plan is scan → mapInPandas; at 10^12 rows this is embarrassingly
    parallel."""
    baoi = (aoi if isinstance(aoi, Broadcast)
            else broadcast_aoi(points.sparkSession, aoi))
    out_schema = T.StructType(list(points.schema)
                              + [T.StructField("aoi_id", T.LongType(), True)])

    def probe(batches):
        a = baoi.value
        for pdf in batches:
            x = pdf[x_col].to_numpy(np.float64)
            y = pdf[y_col].to_numpy(np.float64)
            ridx, aid = pip_assign_np(a, x, y)
            out = pdf.iloc[ridx].copy()
            out["aoi_id"] = aid
            if keep_unmatched:
                matched = np.zeros(len(pdf), dtype=bool)
                matched[ridx] = True
                rest = pdf.iloc[~matched].copy()
                rest["aoi_id"] = pd.array([None] * len(rest), dtype="Int64")
                out = pd.concat([out, rest])
            yield out

    return points.mapInPandas(probe, schema=out_schema)


def _bbox_cover(aoi: DataFrame, res: int) -> DataFrame:
    """(aoi_id, _cover_cell): every cell at ``res`` that meets each AOI's
    ring bbox, as Column expressions — explode(sequence(i0, i1)) ×
    explode(sequence(j0, j1)) over the grid indices of the ring's
    array_min / array_max, cell ids from the Column helpers behind
    grid.encode_col. Equals polygon_cover_cells per AOI, with no Python
    and no ring column on the rows."""
    i0, j0 = grid.lonlat_to_ij_col(F.array_min("ring_x"), F.array_min("ring_y"), res)
    i1, j1 = grid.lonlat_to_ij_col(F.array_max("ring_x"), F.array_max("ring_y"), res)
    ij = (aoi.select("aoi_id", F.explode(F.sequence(i0, i1)).alias("_ci"),
                     j0.alias("_j0"), j1.alias("_j1"))
          .select("aoi_id", "_ci", F.explode(F.sequence("_j0", "_j1")).alias("_cj")))
    return ij.select("aoi_id", grid.ij_to_cell_col(F.col("_ci"), F.col("_cj"), res)
                     .alias("_cover_cell"))


def pip_join_partitioned(points: DataFrame, aoi: DataFrame,
                         x_col: str = "lon", y_col: str = "lat",
                         res: int | None = None,
                         keep_unmatched: bool = False,
                         id_col: str | None = None) -> DataFrame:
    """Point-in-polygon join for a LARGE vector side: polygons exploded to
    cell covers in the JVM (_bbox_cover), shuffle equi-join on cell id,
    then the rings joined on aoi_id to the candidates only, exact PIP
    refinement. Both joins are pinned to shuffled hash joins (the cover
    and the rings build the hash tables): left to itself, AQE may turn a
    side into a broadcast that a small driver heap cannot build. Hot cells
    are left to AQE's skew-join splitting.

    No driver-side materialization of the vector side anywhere: when
    ``res`` is not given it comes from a distributed approxQuantile of the
    bbox spans (pass ``res`` explicitly to skip even that small job).

    The join key lives in a private ``_cover_cell`` column (dropped from
    the output), so a caller's own ``cell`` column — e.g. the flagship's
    zonal cell at a different resolution — passes through untouched.

    ``keep_unmatched=True`` (left-join semantics: unmatched points appear
    once with null aoi_id) requires ``id_col`` naming a unique point key —
    a point's candidate rows are scattered across partitions, so deciding
    "matched nothing" is a global per-point question; the broadcast path
    decides it per-row and needs no key."""
    if keep_unmatched and id_col is None:
        raise ValueError(
            "pip_join_partitioned(keep_unmatched=True) needs id_col= (a "
            "unique point key) — unmatched detection is a global per-point "
            "anti-join at this scale")
    r = res if res is not None else auto_cover_res_distributed(aoi)

    pts = points.withColumn("_cover_cell",
                            grid.encode_col(F.col(x_col), F.col(y_col), r))
    cand = pts.join(_bbox_cover(aoi, r).hint("shuffle_hash"), "_cover_cell")
    rings = aoi.select("aoi_id", "ring_x", "ring_y").hint("shuffle_hash")
    joined = (cand.join(rings, "aoi_id")
              .select(*points.columns, "aoi_id", "ring_x", "ring_y"))

    out_schema = T.StructType([f for f in joined.schema
                               if f.name not in ("ring_x", "ring_y")])

    def refine(batches):
        for pdf in batches:
            keep = np.zeros(len(pdf), dtype=bool)
            # group candidate rows by aoi so each polygon tests a batch of points
            for aid, idx in pdf.groupby("aoi_id").groups.items():
                loc = pdf.index.get_indexer(idx)
                rx = np.asarray(pdf["ring_x"].iloc[loc[0]], np.float64)
                ry = np.asarray(pdf["ring_y"].iloc[loc[0]], np.float64)
                keep[loc] = point_in_polygon_np(
                    pdf[x_col].to_numpy(np.float64)[loc],
                    pdf[y_col].to_numpy(np.float64)[loc], rx, ry)
            yield pdf.loc[keep].drop(columns=["ring_x", "ring_y"])

    matched = joined.mapInPandas(refine, schema=out_schema)
    if not keep_unmatched:
        return matched
    unmatched = (points.join(matched.select(id_col).distinct(), id_col,
                             "left_anti")
                 .withColumn("aoi_id", F.lit(None).cast("long")))
    return matched.unionByName(unmatched.select(*[f.name for f in out_schema]))


def pip_join(points: DataFrame, aoi: DataFrame, x_col: str = "lon",
             y_col: str = "lat", broadcast_threshold: int = 10000,
             **kwargs) -> DataFrame:
    """Route between the broadcast and partitioned PIP strategies by vector
    side size — the broadcast-vs-shuffle decision of SURVEY.md O12. The
    probe is the bounded broadcast collect itself (broadcast_aoi with
    limit=N: at most N+1 rows, never a full count), so a broadcast join
    runs ONE driver job before the plan, and a 10^7-polygon table costs
    just enough rows to prove 'bigger than the threshold'."""
    keep = kwargs.get("keep_unmatched", False)
    baoi = broadcast_aoi(points.sparkSession, aoi, limit=broadcast_threshold)
    if baoi is not None:
        return pip_join_broadcast(points, baoi, x_col, y_col,
                                  keep_unmatched=keep)
    # left-join semantics must survive the routing decision — the
    # partitioned path needs a point key for the global anti-join
    return pip_join_partitioned(points, aoi, x_col, y_col,
                                res=kwargs.get("res"),
                                keep_unmatched=keep,
                                id_col=kwargs.get("id_col"))


# ------------------------------------------------------------- zonal -------

def zonal_remap_col(df: DataFrame, zones: DataFrame, value_col: str,
                    zone_col: str = "zone_id", default: float = 255.0,
                    background: float | None = None,
                    ordinal_col: str | None = None) -> DataFrame:
    """Column-level ZonalRemap: broadcast-join the zone interval table and
    remap ``value_col`` where zmin < v < zmax (null bounds = open interval,
    null zval → default) — probe semantics of
    /root/reference/functions/deprecated/ZonalRemap.py:184-198.

    Non-matching rows: ``background`` mirrors the reference's
    background-initialized output (ZonalRemap.py:180-181, default 0);
    ``background=None`` (default) passes the value through — the deliberate
    value-preserving divergence documented at operators.zonal.zonal_remap.

    One output row per input row ALWAYS: zones with several intervals for
    one zone_id are aggregated into an interval ARRAY before the join and
    probed per row. A plain interval join would FAN OUT one row per
    matching interval, silently inflating every downstream aggregate.
    Overlapping intervals: the reference assigns every matching interval
    in TABLE ORDER so the LAST match wins (ZonalRemap.py:185-198) — an
    explicit table-order ordinal rides in each interval struct, the array
    is canonicalized by that ordinal, and the probe takes the last match;
    identical semantics to the per-pixel operators/zonal.py path.
    ``ordinal_col`` names an explicit ordinal column in ``zones`` — the
    fully order-independent form, REQUIRED for correctness when the zones
    frame has a shuffle in its lineage (join/dropDuplicates/repartition
    leave row order arbitrary). When None, the ordinal is derived from
    monotonically_increasing_id over the zones dim coalesced to ONE
    partition, which makes it a pure function of the frame's row
    sequence (for narrow-lineage frames — createDataFrame, parquet
    scan — that is the table order; coalescing a tiny interval dim is
    free and removes the partition-layout dependence a multi-partition
    m_i_i would add). The probe is an interpreted array HOF — fine here
    because interval lists are tiny dims; the row-multiplying join it
    replaces was the real cost."""
    ord_expr = (F.col(ordinal_col).cast("long") if ordinal_col is not None
                else F.monotonically_increasing_id())
    zsrc = zones if ordinal_col is not None else zones.coalesce(1)
    z = zsrc.select(zone_col, F.struct(
        ord_expr.alias("_ord"),
        F.col("zmin").alias("zmin"), F.col("zmax").alias("zmax"),
        F.col("zval").alias("zval")).alias("_iv"))
    zagg = z.groupBy(zone_col).agg(
        F.sort_array(F.collect_list("_iv")).alias("_ivs"))  # by _ord: table order
    joined = df.join(F.broadcast(zagg), zone_col, "left")
    v = F.col(value_col)
    match = F.filter(
        F.col("_ivs"),
        lambda iv: (v > F.coalesce(iv["zmin"], F.lit(float("-inf"))))
        & (v < F.coalesce(iv["zmax"], F.lit(float("inf")))))
    last = F.element_at(match, -1)
    miss = v if background is None else F.lit(background)
    remapped = F.when(F.size(match) > 0,
                      F.coalesce(last["zval"], F.lit(default))).otherwise(miss)
    return joined.withColumn(f"{value_col}_remap", remapped).drop("_ivs")


def rasterize_attributes_col(df: DataFrame, zones: DataFrame,
                             attrs: list[str], zone_col: str = "zone_id") -> DataFrame:
    """Left-outer enrichment with per-zone attributes — RasterizeAttributes
    (/root/reference/functions/deprecated/RasterizeAttributes.py:135-169)
    as a broadcast left join."""
    z = zones.select(zone_col, *attrs)
    return df.join(F.broadcast(z), zone_col, "left")


# ------------------------------------------------------- geodesic layer ----
#
# Great-circle analytics over (lat, lon) DEGREE columns. The reference's
# spatial predicates are all planar (envelope intersects, utils.py:213-229);
# a crawl-scale image table carries WGS84 capture coordinates, so the
# engine adds the geodesic primitives a tiling pipeline needs: distance,
# radius self-join (pairs within R), and per-entity track statistics.
# Everything is a pure JVM expression tree — zero Python in the hot path —
# and distances are emitted as CENTRAL ANGLES in radians (multiply by the
# sphere radius of your datum to get meters): radian magnitude keeps the
# cross-engine libm disagreement (~2 ulp per sin/cos) far below the
# contract-oracle tolerance, where a meters-scale value would amplify it.

_DEG2RAD = 0.017453292519943295  # float(pi/180); oracles embed the same literal


def central_angle(lat1, lon1, lat2, lon2):
    """Haversine central angle (radians) between two (lat, lon) DEGREE
    column pairs. The operation tree (multiply-by-literal, halve, square
    via self-multiply, least(1.0, sqrt)) is mirrored token-for-token by
    oracles.central_angle_sql so engine and oracle differ only in libm
    rounding (~1e-15)."""
    p1 = lat1 * F.lit(_DEG2RAD)
    p2 = lat2 * F.lit(_DEG2RAD)
    sp = F.sin((lat2 - lat1) * F.lit(_DEG2RAD) / F.lit(2.0))
    sl = F.sin((lon2 - lon1) * F.lit(_DEG2RAD) / F.lit(2.0))
    h = sp * sp + F.cos(p1) * F.cos(p2) * (sl * sl)
    return F.lit(2.0) * F.asin(F.least(F.lit(1.0), F.sqrt(h)))


def _geo_grid(theta_rad: float, max_abs_lat: float) -> tuple[int, int]:
    """Uniform lat/lon grid sized so that two points within central angle
    theta always land in the same or adjacent cells (lon adjacency mod
    wrap). Guarantees, for points with |lat| <= max_abs_lat:

    - |dlat_deg| <= theta_deg <= 180/n_lat  (lat index differs by <= 1)
    - from haversine, sin(dlon/2) <= sin(theta/2)/cos(max_abs_lat), so
      |dlon_deg| <= 360/n_lon  (lon index differs by <= 1 mod n_lon)

    floor() (not ceil) keeps every cell's width >= the required bound —
    a ceil'd count would make the seam cell narrower and let a pair
    straddle TWO cell boundaries."""
    import math
    theta_deg = math.degrees(theta_rad)
    n_lat = max(1, int(math.floor(180.0 / theta_deg)))
    cos_max = math.cos(math.radians(min(89.9999, max_abs_lat)))
    arg = min(1.0, math.sin(theta_rad / 2.0) / max(cos_max, 1e-12))
    dlon_deg = math.degrees(2.0 * math.asin(arg))
    n_lon = max(1, int(math.floor(360.0 / dlon_deg)))
    return n_lat, n_lon


def radius_join(df: DataFrame, theta_rad: float, id_col: str = "id",
                lat_col: str = "lat", lon_col: str = "lon",
                max_abs_lat: float | None = None,
                dist_col: str = "sigma_rad") -> DataFrame:
    """All unordered point pairs within central angle ``theta_rad`` —
    the geodesic range self-join, bucketed so the candidate set is
    neighbor-cells only, NEVER the n² cross product.

    Plan: each point gets one grid cell (``_geo_grid`` sizes the grid so
    enclosure is provable, antimeridian wrap via pmod); the left side
    explodes to its <= 9 distinct neighbor cells, one hash equi-join on
    cell id, ``id_l < id_r`` keeps each pair once (the pair is matched
    from both directions), exact haversine refines. Shuffle volume is
    9 narrow rows per point; per-cell density drives the compare count,
    and AQE's skew-join split handles hot cells (urban clusters) the
    same way the PIP cell join does. At 10^12 rows this is the same
    one-shuffle shape as dedup's LSH bucket join.

    ``max_abs_lat``: pass the known latitude bound of the data (tighter
    bound = wider usable lon cells); defaults to scanning the data for
    it (one cheap aggregate). Distances are central angles in radians —
    see the section comment."""
    cand = _radius_candidates(df, theta_rad, id_col, lat_col, lon_col,
                              max_abs_lat)
    sigma = central_angle(F.col("_latl"), F.col("_lonl"),
                          F.col("_latr"), F.col("_lonr"))
    return (cand.withColumn(dist_col, sigma)
            .filter(F.col(dist_col) <= F.lit(float(theta_rad)))
            .select(F.col("_idl").alias(f"{id_col}_a"),
                    F.col("_idr").alias(f"{id_col}_b"), dist_col))


def _radius_candidates(df: DataFrame, theta_rad: float, id_col: str,
                       lat_col: str, lon_col: str,
                       max_abs_lat: float | None,
                       directed: bool = False) -> DataFrame:
    """The cell-join candidate stage of :func:`radius_join` — exposed so
    the scale probe can count admitted pairs before the exact filter.
    ``directed=True`` keeps both (a,b) and (b,a) minus self (the kNN
    query→candidate shape) instead of the unordered ``id_l < id_r``."""
    if max_abs_lat is None:
        max_abs_lat = df.agg(
            F.max(F.abs(F.col(lat_col)))).collect()[0][0] or 0.0
    n_lat, n_lon = _geo_grid(theta_rad, max_abs_lat)
    lat, lon = F.col(lat_col), F.col(lon_col)
    ci = F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0 / n_lat)),
                 F.lit(n_lat - 1)).cast("long")
    cj = F.pmod(F.floor((lon + F.lit(180.0)) / F.lit(360.0 / n_lon)),
                F.lit(n_lon)).cast("long")
    pts = df.select(F.col(id_col).alias("_gid"), lat.alias("_glat"),
                    lon.alias("_glon"), ci.alias("_ci"), cj.alias("_cj"))
    nbrs = F.array_distinct(F.array(*[
        F.when((F.col("_ci") + di >= 0) & (F.col("_ci") + di < n_lat),
               (F.col("_ci") + di) * n_lon
               + F.pmod(F.col("_cj") + dj, F.lit(n_lon)))
        for di in (-1, 0, 1) for dj in (-1, 0, 1)]))
    left = (pts.withColumn("_nbr", F.explode(nbrs))
            .filter(F.col("_nbr").isNotNull())
            .select(F.col("_gid").alias("_idl"), F.col("_glat").alias("_latl"),
                    F.col("_glon").alias("_lonl"), "_nbr"))
    right = pts.select(F.col("_gid").alias("_idr"),
                       F.col("_glat").alias("_latr"),
                       F.col("_glon").alias("_lonr"),
                       (F.col("_ci") * n_lon + F.col("_cj")).alias("_cell"))
    pair_cond = (F.col("_idl") != F.col("_idr")) if directed else \
        (F.col("_idl") < F.col("_idr"))
    return left.join(right, (F.col("_nbr") == F.col("_cell")) & pair_cond)


def track_stats(df: DataFrame, entity_col: str, order_cols: list[str],
                lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Per-entity trajectory statistics: point count, great-circle path
    length (sum of consecutive central angles in ``order_cols`` order,
    radians) and the bounding box. One shuffle: the window partitions by
    the entity and the follow-up aggregate groups by the same key, so
    Catalyst reuses the exchange. Ties in ``order_cols`` must be broken
    by a unique column (pass e.g. ["ts", "event_id"]) or the path length
    is not well-defined."""
    from pyspark.sql.window import Window
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    lat, lon = F.col(lat_col), F.col(lon_col)
    plat, plon = F.lag(lat).over(w), F.lag(lon).over(w)
    step = F.when(plat.isNotNull(), central_angle(plat, plon, lat, lon))
    return (df.withColumn("_step", step)
            .groupBy(entity_col)
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.coalesce(F.sum("_step"), F.lit(0.0)).alias("path_rad"),
                 F.min(lat).alias("lat_min"), F.max(lat).alias("lat_max"),
                 F.min(lon).alias("lon_min"), F.max(lon).alias("lon_max")))


def lonlat_cols(key, lat_seed: int = 7001, lon_seed: int = 7002):
    """Deterministic WGS84-ish coordinates from a row key: lat in
    [-60, 60), lon in [-180, 180) as pure JVM columns — the test-table
    stand-in for real capture coordinates (oracles.lonlat_sql is the
    byte-identical replay; division by 2^60 is exact in IEEE doubles)."""
    from .sampling import u60_col
    two60 = F.lit(1152921504606846976.0)
    lat = u60_col(key, lat_seed).cast("double") / two60 * F.lit(120.0) - F.lit(60.0)
    lon = u60_col(key, lon_seed).cast("double") / two60 * F.lit(360.0) - F.lit(180.0)
    return lat, lon


def polyfill_compact(spark, rings, res: int):
    """H3/S2-style ``polyfill`` + ``compact``: the minimal
    mixed-resolution cell set whose res-``res`` descendants are exactly
    the cells whose CENTER lies inside the polygon (center-in rule, the
    H3 polyfill convention). ``rings`` is ``[(aoi_id, xs, ys), ...]``.

    One ``mapInPandas`` over a one-row-per-ring table: each ring's
    :func:`polygon_runs` scanline cover is compacted by
    :func:`grid.compact_runs` (full and parent not full, level by level).
    No shuffle, no union, and the plan does not grow with the number of
    rings; the work per ring is O(perimeter × levels).

    Returns ``(aoi_id, cell, res)`` — what an AOI index stores per
    polygon (O(perimeter) rows at depth ``res``). ``aoi_id`` has the type
    Spark gives the id literals (int, or bigint past the int32 range)."""
    if not 0 <= res <= grid.MAX_RES:
        raise ValueError(f"res must be in [0, {grid.MAX_RES}]")
    ids = [k for k, _, _ in rings]
    id_type = spark.range(0).select(F.array(F.lit(min(ids)), F.lit(max(ids)))
                                    ).schema[0].dataType.elementType
    table = spark.createDataFrame(
        [(k, np.asarray(xs, np.float64).tolist(), np.asarray(ys, np.float64).tolist())
         for k, xs, ys in rings],
        T.StructType([T.StructField("aoi_id", id_type, False),
                      T.StructField("ring_x", T.ArrayType(T.DoubleType())),
                      T.StructField("ring_y", T.ArrayType(T.DoubleType()))]))

    def polyfill(batches):
        for pdf in batches:
            cells = [grid.compact_runs(polygon_runs(xs, ys, res), res)
                     for xs, ys in zip(pdf["ring_x"], pdf["ring_y"])]
            cell = np.concatenate(cells + [np.empty(0, np.int64)])
            yield pd.DataFrame({
                "aoi_id": np.repeat(pdf["aoi_id"].to_numpy(), [c.size for c in cells]),
                "cell": cell, "res": grid.cell_res(cell).astype(np.int32)})

    return table.mapInPandas(polyfill, T.StructType([
        T.StructField("aoi_id", id_type, False),
        T.StructField("cell", T.LongType()),
        T.StructField("res", T.IntegerType(), False)]))


def knn_geo(df: DataFrame, k: int, theta0: float, id_col: str = "id",
            lat_col: str = "lat", lon_col: str = "lon",
            max_abs_lat: float | None = None,
            max_fallback: int = 100_000,
            auto_widen: int = 2) -> DataFrame:
    """EXACT geodesic k-nearest-neighbors self-join: for every point its
    ``k`` nearest other points by central angle, ties broken by neighbor
    id. Two phases, both deterministic:

    1. **Grid phase** — the radius-join grid at ``theta0``: each query's
       9-neighbor-cell candidates are ranked by (sigma, id). The grid
       guarantee (any point within ``theta0`` lands in a neighbor cell)
       makes the candidate top-k PROVABLY the true top-k whenever k
       candidates exist and the k-th distance is ≤ ``theta0`` — every
       non-candidate sits strictly beyond ``theta0``. Shuffle volume is
       9 rows per point + the per-cell-density candidate set.
    2. **Fallback** — the (sparse-region) queries the guarantee doesn't
       cover are broadcast as a NumPy matrix through one mapInPandas
       over all points with per-batch partial top-k (the j5_knn
       pattern): only ``n_unsat × k`` rows per batch ever shuffle, never
       a cross product. ``theta0`` tunes the split: larger → fewer
       fallback queries, more grid candidates.

    Returns ``(id, rank, nbr, sigma_rad)``, exactly ``min(k, n-1)`` rows
    per point."""
    from pyspark.sql.window import Window
    cand = _radius_candidates(df, theta0, id_col, lat_col, lon_col,
                              max_abs_lat, directed=True)
    sigma = central_angle(F.col("_latl"), F.col("_lonl"),
                          F.col("_latr"), F.col("_lonr"))
    w = Window.partitionBy("_idl").orderBy("sigma", "_idr")
    ranked = (cand.withColumn("sigma", sigma)
              .withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") <= k))
    stats = (ranked.groupBy("_idl")
             .agg(F.count(F.lit(1)).alias("_cnt"),
                  F.max("sigma").alias("_kth")))
    sat = (stats.filter((F.col("_cnt") == k)
                        & (F.col("_kth") <= F.lit(float(theta0))))
           .select(F.col("_idl").alias("_sat")))
    phase1 = (ranked.join(sat, ranked["_idl"] == sat["_sat"], "left_semi")
              .select(F.col("_idl").alias(id_col),
                      F.col("_rn").alias("rank"),
                      F.col("_idr").alias("nbr"),
                      F.col("sigma").alias("sigma_rad")))

    pts = df.select(F.col(id_col), F.col(lat_col).alias("_lat"),
                    F.col(lon_col).alias("_lon"))
    unsat_df = pts.join(sat, pts[id_col] == sat["_sat"], "left_anti")
    # r7 guard (VERDICT r6 #2): the fallback materializes the unsat set on
    # the driver and broadcasts it as a dense matrix — "bounded" was an
    # assumption about theta0, not an invariant. Collect at most one row
    # past the cap (one evaluation of the anti-join per widen step); a
    # mis-sized theta0 on a sparse corpus now auto-escalates theta0
    # geometrically (×4 per step — the grid phase stays exact under ANY
    # theta0 by the same proof) instead of OOMing the driver, and raises
    # with sizing guidance once the widening budget is spent.
    unsat = unsat_df.limit(max_fallback + 1).toPandas()
    if len(unsat) > max_fallback:
        if auto_widen > 0:
            return knn_geo(df, k, 4.0 * theta0, id_col, lat_col, lon_col,
                           max_abs_lat, max_fallback=max_fallback,
                           auto_widen=auto_widen - 1)
        raise ValueError(
            f"knn_geo: >{max_fallback} points fail the grid "
            f"guarantee at theta0={theta0!r} even after widening — the "
            "corpus is too sparse for this theta0; pass a larger theta0 "
            "(the k-th-neighbor angle for typical points) or raise "
            "max_fallback if the driver can hold the matrix")
    if len(unsat) == 0:
        return phase1
    q_id = unsat[id_col].to_numpy()
    q_la = np.radians(unsat["_lat"].to_numpy(np.float64))
    q_lo = np.radians(unsat["_lon"].to_numpy(np.float64))

    out_schema = f"{id_col} long, nbr long, sigma_rad double"

    def part(batches):
        for pdf in batches:
            nid = pdf[id_col].to_numpy()
            la = np.radians(pdf["_lat"].to_numpy(np.float64))
            lo = np.radians(pdf["_lon"].to_numpy(np.float64))
            sp = np.sin((la[None, :] - q_la[:, None]) / 2.0)
            sl = np.sin((lo[None, :] - q_lo[:, None]) / 2.0)
            h = (sp * sp
                 + np.cos(q_la[:, None]) * np.cos(la[None, :]) * (sl * sl))
            sig = 2.0 * np.arcsin(np.minimum(1.0, np.sqrt(h)))
            sig[q_id[:, None] == nid[None, :]] = np.inf  # self
            kk = min(k, sig.shape[1])
            # per-batch partial top-k, (sigma, nbr) order
            order = np.lexsort((np.broadcast_to(nid, sig.shape), sig),
                               axis=1)[:, :kk]
            rows = {
                id_col: np.repeat(q_id, kk),
                "nbr": nid[order].reshape(-1),
                "sigma_rad": np.take_along_axis(sig, order, 1).reshape(-1),
            }
            out = pd.DataFrame(rows)
            yield out[np.isfinite(out["sigma_rad"])]

    partials = pts.mapInPandas(part, out_schema)
    w2 = Window.partitionBy(id_col).orderBy("sigma_rad", "nbr")
    phase2 = (partials.withColumn("rank", F.row_number().over(w2))
              .filter(F.col("rank") <= k)
              .select(id_col, "rank", "nbr", "sigma_rad"))
    return phase1.unionByName(phase2)
