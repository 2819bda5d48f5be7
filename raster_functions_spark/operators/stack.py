"""Mosaic / time-stack aggregation — SURVEY.md §2.4.

The reference reduces a 4-D stack ``(n_rasters, bands, rows, cols)`` of
co-registered acquisitions per request (deprecated/Aggregate.py:56-63,
LandsatPixelPercentile.py:168-190, LandsatMedianImage.py:179,
FindMax.py:66-84, PercentAboveThreshold.py:140-143). The Spark-native
shape: group by tile key (:func:`grouped_sorted_map`) assembles the stack
once and reduces it with ONE vectorized NumPy call (the reference's
per-pixel Python loops replaced by axis-0 reductions — identical math,
SURVEY.md O9).

Every reduction takes one of three shapes, each with one code path:

- full-stack composite (median, percentile, coalesce, any measure, and
  the per-pixel SARIMA deltas ``ml.sarima_stack_delta`` /
  ``ml.sarima_template_delta``): :func:`_composite` streams each
  position's members through :func:`_reduce_group`. Group size is bounded
  by (n_acquisitions × tile bytes) — cap stacks by time-bucketing upstream
  if needed (SURVEY.md O13).
- map-side partial → merge (the k-th max of the FindMax family and the
  mean): :func:`_partial_tiles` reduces each input partition's members per
  position to one f8 partial tile, :func:`_merge_partials` shuffles only
  those and finishes. :func:`stack_topk_assoc` is the one k-th-max
  definition (``cap=None`` for a plain k-th max).
- per-tile scalars (sum/min/max/count, threshold fractions):
  :func:`raster.tile_stats` emits them and a Catalyst aggregation finishes —
  no stack ever materializes.

Composite and partial tiles alike follow the tile-row contract in
:mod:`raster`: group cols + ``TILE_FIELDS`` (filled by ``tile_row``) +
``n_rasters``, the member count behind the tile.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codec
from ..raster import TILE_FIELDS, TileOp, tile_row, tile_stats

def _nansum_keep_invalid(s):
    """nansum that preserves the module invariant: a position with NO
    valid member stays NaN (np.nansum alone returns 0.0 for an all-NaN
    slice — a fake zero that would feed downstream statistics; the other
    measures already return NaN there)."""
    with np.errstate(all="ignore"):
        out = np.nansum(s, axis=0)
    return np.where(np.isnan(s).all(axis=0), np.nan, out)


_MEASURES: dict[str, Callable] = {
    "sum": _nansum_keep_invalid,
    "mean": lambda s: np.nanmean(s, axis=0),
    "median": lambda s: np.nanmedian(s, axis=0),
    "std": lambda s: np.nanstd(s, axis=0),
    "min": lambda s: np.nanmin(s, axis=0),
    "max": lambda s: np.nanmax(s, axis=0),
}


def _out_schema(group_cols: list[str], df: DataFrame) -> T.StructType:
    return T.StructType([df.schema[c] for c in group_cols] + TILE_FIELDS
                        + [T.StructField("n_rasters", T.IntegerType())])


def _out_row(key: tuple, group_cols: list[str], px: np.ndarray, fmt_out: str,
             n_rasters: int) -> dict:
    return {**dict(zip(group_cols, key)), **tile_row(px, fmt_out),
            "n_rasters": n_rasters}


def _reduce_group(key, pdf, group_cols, reducer, fmt_out, value_band, qa_band,
                  clear_values, order_col, nodata=None):
    if order_col is not None:
        pdf = pdf.sort_values(order_col)  # time-ordering, SeasonalARIMA.py:162-163
    stack = np.stack([codec.decode(bytes(b)) for b in pdf["bytes"]])  # (n,b,h,w)
    if qa_band is not None:
        # mask non-clear observations to NaN before reducing
        # (LandsatMedianImage.py:25-27,163-177 behavior); value_band None
        # = band 0
        vals = stack[:, value_band or 0].astype(np.float64)
        clear = np.isin(stack[:, qa_band], np.asarray(clear_values))
        data = np.where(clear, vals, np.nan)[:, None, :, :]
    elif value_band is not None:
        data = stack[:, value_band:value_band + 1].astype(np.float64)
    else:
        data = stack.astype(np.float64)       # every band
    with np.errstate(all="ignore"):
        red = reducer(data)          # (bands, h, w) or (h, w)
    # never-clear pixels stay INVALID (NaN in the f4 output) — the
    # reference's mask model keeps them out of downstream statistics
    # (Reference.py:100-105,212-216); pass ``nodata`` to substitute an
    # explicit sentinel instead (the pre-round-2 behavior used 0.0, which
    # silently fed fake zeros into downstream stats)
    if nodata is not None:
        red = np.nan_to_num(red, nan=nodata)
    return _out_row(key, group_cols, red.astype(np.float32), fmt_out, len(pdf))


def _composite(df: DataFrame, group_cols: list[str], reducer: Callable,
               fmt_out: str, value_band: int | None = None,
               qa_band: int | None = None, clear_values: tuple[int, ...] = (),
               order_col: str | None = None,
               nodata: float | None = None) -> DataFrame:
    """The full-stack composite: every position's members meet in one group
    and :func:`_reduce_group` reduces them with ``reducer``. Group count is
    unbounded (tile positions) while group size is small (acquisitions) —
    stream the sorted partition instead of paying the per-group
    applyInPandas round trip (see grouped_sorted_map)."""
    def _apply(key: tuple, pdf: pd.DataFrame) -> dict:
        return _reduce_group(key, pdf, group_cols, reducer, fmt_out,
                             value_band, qa_band, clear_values, order_col,
                             nodata)
    return grouped_sorted_map(df, group_cols, _apply, _out_schema(group_cols, df))


def stack_composite(df: DataFrame, measure: str, group_cols: list[str] = ["scene_id"],
                    fmt_out: str = "zlib", value_band: int | None = None,
                    qa_band: int | None = None,
                    clear_values: tuple[int, ...] = (),
                    order_col: str | None = None,
                    nodata: float | None = None) -> DataFrame:
    """Per-pixel composite across a stack: Aggregate (A1) / LandsatMedianImage
    (A5) / Landsat_Image_Synthesis mean (A6) depending on measure + QA args.
    ``value_band`` picks the one band to reduce; None keeps every band
    without a QA band and means band 0 with one. Never-clear pixels stay
    NaN (invalid) unless ``nodata`` substitutes a sentinel — see
    _reduce_group."""
    return _composite(df, group_cols, _MEASURES[measure], fmt_out, value_band,
                      qa_band, clear_values, order_col, nodata)


def stack_percentile(df: DataFrame, q: float, group_cols: list[str] = ["scene_id"],
                     fmt_out: str = "zlib", value_band: int | None = None,
                     qa_band: int | None = None,
                     clear_values: tuple[int, ...] = (),
                     nodata: float | None = None) -> DataFrame:
    """Per-pixel percentile across a QA-filtered stack — LandsatPixelPercentile
    (A4), with np.nanpercentile over axis 0 replacing the reference's
    per-pixel loop (LandsatPixelPercentile.py:175-190; same math)."""
    return _composite(df, group_cols, lambda s: np.nanpercentile(s, q, axis=0),
                      fmt_out, value_band, qa_band, clear_values, None, nodata)


def _run_starts(keys: list[np.ndarray]) -> np.ndarray:
    """First row of every run of equal keys over sorted key columns.
    Null-safe: a null key is still a group (applyInPandas keeps it), so a
    null matches a null and differs from every value."""
    change = np.zeros(len(keys[0]) - 1, bool)
    for a in keys:
        na = pd.isna(a)
        change |= ((a[1:] != a[:-1]) & ~(na[1:] & na[:-1])) | (na[1:] != na[:-1])
    return np.concatenate([[0], np.flatnonzero(change) + 1])


def grouped_sorted_map(df: DataFrame, group_cols: list[str], fn,
                       out_schema: T.StructType) -> DataFrame:
    """``groupBy().applyInPandas`` without the per-GROUP Arrow round trip:
    the package's one grouped map for every reduction that emits one row
    per group (halo messages, pyramid children, a position's acquisitions,
    a series' forecast, a tile's boundary inflows, a training shard).
    The one exception is :func:`raster.scene_map`, which emits one row per
    input tile and so stays on applyInPandas.

    applyInPandas pays ~ms of serde/scheduling per group — fine for big
    groups, ruinous for millions of tiny ones (and AQE coalesces a small
    partials shuffle to few partitions, serializing it; measured 28.6s vs
    1.7s of kernel time in BENCH/notes_r4.md). Here: hash-repartition on
    the group key, sort within partitions, then stream the partition
    through ONE mapInPandas that finds the group runs with NumPy over the
    sorted key columns, stitches runs across Arrow batch boundaries and
    calls ``fn(key_tuple, group_pdf) -> dict | None`` per group. The dict
    is the group's one output row (keys = ``out_schema`` field names);
    ``None`` emits nothing. Rows are buffered and flushed as one
    ``pd.DataFrame`` once 64 are pending, so no group builds an output
    frame of its own; with every group ``None`` nothing is yielded and
    the declared schema stands.

    The shuffle has ``defaultParallelism`` partitions — one task per core
    (AQE can't collapse an explicit repartition). Groups are many and
    bounded in size, so hash partitioning balances them by count and a
    second wave of tasks would only add Python task launches. fn must be
    insensitive to row order within the group unless it sorts internally
    (same contract as applyInPandas)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    d = df.repartition(n, *group_cols).sortWithinPartitions(*group_cols)
    cols = list(group_cols)
    names = out_schema.fieldNames()

    def run(batches):
        pend = None
        rows: list[dict] = []

        def emit(key: tuple, g: pd.DataFrame):
            row = fn(key, g)
            if row is not None:
                rows.append(row)

        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True) if len(pdf) else pend
                pend = None
            if not len(pdf):
                continue
            keys = [pdf[c].to_numpy() for c in cols]
            starts = _run_starts(keys)
            # the last run may continue in the next batch: carry it over
            for s, e in zip(starts[:-1], starts[1:]):
                emit(tuple(k[s] for k in keys), pdf.iloc[s:e])
            pend = pdf.iloc[starts[-1]:]
            if len(rows) >= 64:
                yield pd.DataFrame(rows, columns=names)
                rows = []
        if pend is not None and len(pend):
            emit(tuple(pend[c].to_numpy()[0] for c in cols), pend)
        if rows:
            yield pd.DataFrame(rows, columns=names)

    return d.mapInPandas(run, schema=out_schema)


def _partial_tiles(df: DataFrame, group_cols: list[str], reduce: Callable,
                   fmt_out: str) -> DataFrame:
    """Stage 1 of a map-side combine, no shuffle: group each Arrow batch's
    members by position and reduce the group's decoded tiles with
    ``reduce(tiles) -> partial`` into one f8 partial tile, ``n_rasters``
    = the group's member count."""
    schema = _out_schema(group_cols, df)

    def run(batches):
        for pdf in batches:
            rows = []
            for key, g in pdf.groupby(group_cols, sort=False, dropna=False):
                key = key if isinstance(key, tuple) else (key,)
                part = reduce([codec.decode(bytes(b)) for b in g["bytes"]])
                rows.append(_out_row(key, group_cols, part.astype(np.float64),
                                     fmt_out, len(g)))
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    return df.mapInPandas(run, schema=schema)


def _merge_partials(partials: DataFrame, group_cols: list[str],
                    finish: Callable, fmt_out: str) -> DataFrame:
    """Stage 2 of a map-side combine: shuffle the partial tiles by position,
    ``finish(partials, n_rasters) -> tile`` over the decoded partials, and
    sum ``n_rasters``. Partials are tiny and positions unbounded → the
    streamed grouped map (applyInPandas per-group overhead would
    dominate)."""
    def merge(key: tuple, pdf: pd.DataFrame) -> dict:
        n = int(pdf["n_rasters"].sum())
        red = finish([codec.decode(bytes(b)) for b in pdf["bytes"]], n)
        return _out_row(key, group_cols, red.astype(np.float32), fmt_out, n)

    return grouped_sorted_map(partials, group_cols, merge,
                              _out_schema(group_cols, partials))


def stack_topk_assoc(df: DataFrame, k: int = 1, cap: float | None = None,
                     invalid: float = -1.0,
                     group_cols: list[str] = ["scene_id"],
                     value_band: int = 0,
                     fmt_out: str = "zlib") -> DataFrame:
    """Per-pixel k-th max across the stack — FindMax/FindSecondMax/
    FindThirdMax (A8: np.sort along the stack axis, FindSecondMax.py:73) —
    with MAP-SIDE COMBINE, the 100-TB path.

    With ``cap``, values > ``cap`` are invalidated to ``invalid`` before
    the sort and pixels where every member is invalid stay ``invalid``
    (the FindMax.py:66-84 rule the FindMaxPixel_Mosaic .rft templates
    bind); ``cap=None`` is the plain k-th max. With fewer than k members
    the per-pixel minimum stands in.

    ``groupBy + applyInPandas`` ships every member's pixels through the
    shuffle (members × tile bytes per position). The k-th-largest-per-
    pixel statistic is associative: the global answer lives in the union
    of per-subset top-k. So stage 1 reduces each input partition's members
    per position to the per-pixel k largest plus the per-pixel min as a
    guard band for the members < k edge; stage 2 shuffles only those
    partials (≤ (k+1) bands each, independent of members-per-partition)
    and merges. With inputs clustered by scene/time — the common layout —
    shuffle volume drops by ~members-per-partition ×. Exact for the
    integer-valued rasters the FindMax family targets (sort/max are
    order-free)."""
    kk = int(k)

    def top(tiles: list[np.ndarray]) -> np.ndarray:
        v = np.stack([t[value_band] for t in tiles]).astype(np.float64)
        if cap is not None:
            v = np.where(v > cap, invalid, v)
        srt = np.sort(v, axis=0)
        # guard band (per-pixel min) + the per-pixel largest
        return np.concatenate([srt[:1], srt[-min(kk, srt.shape[0]):]])

    def kth(parts: list[np.ndarray], n: int) -> np.ndarray:
        tops = np.concatenate([p[1:] for p in parts])
        if n >= kk:
            red = np.sort(tops, axis=0)[-kk]
        else:
            red = np.stack([p[0] for p in parts]).min(axis=0)   # global smallest
        if cap is not None:
            red = np.where((tops == invalid).all(axis=0), invalid, red)
        return red

    return _merge_partials(_partial_tiles(df, group_cols, top, fmt_out),
                           group_cols, kth, fmt_out)


def mean_partial_tiles(df: DataFrame, group_cols: list[str] = ["scene_id"],
                       value_band: int = 0, qa_band: int | None = None,
                       clear_values: tuple[int, ...] = (),
                       nan_skip: bool = True,
                       fmt_out: str = "zlib") -> DataFrame:
    """Stage 1 of the decomposable mean: reduce each input partition's
    members per position to per-pixel [Σvalue, valid-count] partial tiles
    (f8 — exact for integer-valued rasters). Public so STREAMING ingest
    can commit one partial set per microbatch and merge on read
    (streaming/composites.py)."""
    def sum_count(tiles: list[np.ndarray]) -> np.ndarray:
        px = np.stack(tiles)
        v = px[:, value_band].astype(np.float64)
        if qa_band is not None:
            # same validity rule as the batch path (stack_composite masks
            # non-clear to NaN then nanmeans): a QA-clear pixel whose value
            # is NaN must not poison the Σ partial
            valid = np.isin(px[:, qa_band], np.asarray(clear_values)) & ~np.isnan(v)
        elif nan_skip:
            valid = ~np.isnan(v)
        else:
            valid = np.ones(v.shape, bool)           # NaN propagates
        return np.stack([np.where(valid, v, 0.0).sum(axis=0),
                         valid.sum(axis=0, dtype=np.float64)])

    return _partial_tiles(df, group_cols, sum_count, fmt_out)


def merge_mean_partials(partials: DataFrame,
                        group_cols: list[str] = ["scene_id"],
                        fmt_out: str = "zlib") -> DataFrame:
    """Stage 2: sum the [Σ, count] partial tiles per position and divide."""
    def mean(parts: list[np.ndarray], n: int) -> np.ndarray:
        acc = np.sum(parts, axis=0, dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.where(acc[1] > 0, acc[0] / acc[1], np.nan)

    return _merge_partials(partials, group_cols, mean, fmt_out)


def stack_mean_assoc(df: DataFrame, group_cols: list[str] = ["scene_id"],
                     value_band: int = 0, qa_band: int | None = None,
                     clear_values: tuple[int, ...] = (),
                     nan_skip: bool = True,
                     fmt_out: str = "zlib") -> DataFrame:
    """Mean composite with MAP-SIDE COMBINE: stage 1 reduces each input
    partition's members per position to per-pixel [Σvalue, valid-count]
    (f8 partials — exact for integer-valued rasters); stage 2 shuffles
    only those 2-band partials and divides. QA masking
    (Landsat clear-pixel whitelists) folds into the partial's valid
    count; ``nan_skip=False`` reproduces deprecated/Aggregate.py's plain
    np.mean (NaN propagates). Same decomposition argument as
    stack_topk_assoc — shuffle volume independent of members per
    partition."""
    partials = mean_partial_tiles(df, group_cols, value_band, qa_band,
                                  clear_values, nan_skip, fmt_out)
    return merge_mean_partials(partials, group_cols, fmt_out)


def stack_coalesce(df: DataFrame, group_cols: list[str] = ["scene_id"],
                   order_col: str | None = None, nodata: float | None = None,
                   fmt_out: str = "zlib") -> DataFrame:
    """Per-pixel FIRST-valid composite along the ordered stack — the mosaic
    merge operator (MergeRasters.rft.xml) and the Con(IsNull(a), b, a)
    RemoveNoData construction (RemoveNoData.rft.xml) in one primitive:
    walk members in ``order_col`` order and keep the first pixel that is
    not NaN (and not ``nodata`` if given). Pixels invalid in every member
    stay NaN."""
    def reducer(s):
        valid = ~np.isnan(s)
        if nodata is not None:
            valid &= s != nodata
        first = valid.argmax(axis=0)                      # first True index
        any_valid = valid.any(axis=0)
        picked = np.take_along_axis(s, first[None], axis=0)[0]
        return np.where(any_valid, picked, np.nan)
    return _composite(df, group_cols, reducer, fmt_out, None,
                      order_col=order_col)


def _value_band_f8(value_band: int) -> TileOp:
    return TileOp("value_band_f8", lambda px, meta: px.astype(np.float64),
                  bands_in=(value_band,))


def pixel_partials(df: DataFrame, value_band: int = 0) -> DataFrame:
    """Per-tile decomposable partials of one band through
    :func:`raster.tile_stats`: every column but ``bytes``, then ``px_sum``,
    ``px_min``, ``px_max`` (double) and ``px_n`` (long)."""
    per = tile_stats(df, [_value_band_f8(value_band)], {
        "px_sum": lambda px, m: px.sum(), "px_min": lambda px, m: px.min(),
        "px_max": lambda px, m: px.max(), "px_n": lambda px, m: px.size,
    })
    return per.withColumn("px_n", F.col("px_n").cast(T.LongType()))


def percent_above_threshold(df: DataFrame, threshold: float,
                            group_cols: list[str] = ["scene_id"],
                            value_band: int = 0, above: bool = True,
                            time_col: str | None = None,
                            t_min=None, t_max=None) -> DataFrame:
    """Scalar %-of-stack-pixels beyond a threshold, optionally time-filtered —
    PercentAboveThreshold (A7; date-range filter
    PercentAboveThreshold.py:124-137). The time filter is a plain predicate
    (prunes partitions on a date-partitioned table), each tile emits its
    hit fraction through :func:`raster.tile_stats`, and the ratio is a
    Catalyst avg — fully decomposable, no stack materialized."""
    d = df
    # open-ended ranges: apply each bound independently — ANDing with a
    # null literal makes the predicate null and silently filters out
    # EVERY row (t_min without t_max returned an empty result before)
    if time_col is not None:
        if t_min is not None:
            d = d.filter(F.col(time_col) >= t_min)
        if t_max is not None:
            d = d.filter(F.col(time_col) <= t_max)

    def frac(px, meta):
        return (px >= threshold if above else px <= threshold).mean()

    per = tile_stats(d, [_value_band_f8(value_band)], {"frac": frac})
    return (per.groupBy(*group_cols)
            .agg(F.round(F.avg("frac") * 100.0, 6).alias("pct"),
                 F.count("*").alias("n_rasters")))


def stack_stats_decomposable(df: DataFrame, group_cols: list[str],
                             value_band: int = 0) -> DataFrame:
    """Decomposable stack statistics (sum/count/mean/min/max of per-tile
    aggregates) via pure Catalyst hash agg — the partial+final two-phase
    plan Spark gives for free (SURVEY.md A1 note). Use for measures that
    don't need the co-registered per-pixel stack."""
    per = pixel_partials(df, value_band)
    return (per.groupBy(*group_cols)
            .agg(F.sum("px_sum").alias("sum"), F.min("px_min").alias("min"),
                 F.max("px_max").alias("max"),
                 (F.sum("px_sum") / F.sum("px_n")).alias("mean"),
                 F.count("*").alias("n_rasters")))


def extent_union(df: DataFrame, group_cols: list[str] = []) -> DataFrame:
    """Union of input extents — output-extent negotiation of
    LandsatMedianImage.py:69-114 as a trivial aggregate (U4)."""
    agg = [F.min("xmin").alias("xmin"), F.min("ymin").alias("ymin"),
           F.max("xmax").alias("xmax"), F.max("ymax").alias("ymax")]
    return df.groupBy(*group_cols).agg(*agg) if group_cols else df.agg(*agg)


def scene_regression(df: DataFrame, x_stat: str, y_stat: str,
                     group_cols: list[str] = ["scene_id"]) -> DataFrame:
    """Two-pass scene-level linear regression — TopographicCCorrection's
    global C estimation (A9, TopographicCCorrection.py:139-147) shape:
    per-group regr_slope/intercept over decomposable covariance sums (pure
    Catalyst), to be joined back for the per-pixel correction pass."""
    return (df.groupBy(*group_cols)
            .agg(F.regr_slope(F.col(y_stat), F.col(x_stat)).alias("slope"),
                 F.regr_intercept(F.col(y_stat), F.col(x_stat)).alias("intercept"),
                 F.regr_count(F.col(y_stat), F.col(x_stat)).alias("n")))
