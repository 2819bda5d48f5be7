"""Mosaic / time-stack aggregation — SURVEY.md §2.4.

The reference reduces a 4-D stack ``(n_rasters, bands, rows, cols)`` of
co-registered acquisitions per request (deprecated/Aggregate.py:56-63,
LandsatPixelPercentile.py:168-190, LandsatMedianImage.py:179,
FindMax.py:66-84, PercentAboveThreshold.py:140-143). The Spark-native
shape: groupBy(tile key) → applyInPandas assembles the stack once and
reduces it with ONE vectorized NumPy call (the reference's per-pixel Python
loops replaced by axis-0 reductions — identical math, SURVEY.md O9).

Decomposable measures (sum/mean/min/max/count) additionally get a pure
Catalyst path via :func:`stack_stats_decomposable` — partial aggregation
(map-side combine) means no stack ever materializes; use it when the
measure allows. Median/percentile need the full stack per group; group size
is bounded by (n_acquisitions × tile bytes) — cap stacks by time-bucketing
upstream if needed (SURVEY.md O13).

Composite tiles follow the tile-row contract in :mod:`raster`
(``TILE_FIELDS`` filled by ``tile_row``).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codec
from ..raster import TILE_FIELDS, tile_row

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


def _reduce_group(key, pdf, group_cols, reducer, fmt_out, value_band, qa_band,
                  clear_values, order_col, nodata=None):
    if order_col is not None:
        pdf = pdf.sort_values(order_col)  # time-ordering, SeasonalARIMA.py:162-163
    stack = np.stack([codec.decode(bytes(b)) for b in pdf["bytes"]])  # (n,b,h,w)
    if qa_band is not None:
        # mask non-clear observations to NaN before reducing
        # (LandsatMedianImage.py:25-27,163-177 behavior)
        vals = stack[:, value_band].astype(np.float64)
        clear = np.isin(stack[:, qa_band], np.asarray(clear_values))
        data = np.where(clear, vals, np.nan)[:, None, :, :]
    else:
        data = stack.astype(np.float64)
    with np.errstate(all="ignore"):
        red = reducer(data)          # (bands, h, w) or (h, w)
    # never-clear pixels stay INVALID (NaN in the f4 output) — the
    # reference's mask model keeps them out of downstream statistics
    # (Reference.py:100-105,212-216); pass ``nodata`` to substitute an
    # explicit sentinel instead (the pre-round-2 behavior used 0.0, which
    # silently fed fake zeros into downstream stats)
    if nodata is not None:
        red = np.nan_to_num(red, nan=nodata)
    return pd.DataFrame([{**dict(zip(group_cols, key)),
                          **tile_row(red.astype(np.float32), fmt_out),
                          "n_rasters": len(pdf)}])


def stack_composite(df: DataFrame, measure: str, group_cols: list[str] = ["scene_id"],
                    fmt_out: str = "zlib", value_band: int = 0,
                    qa_band: int | None = None,
                    clear_values: tuple[int, ...] = (),
                    order_col: str | None = None,
                    nodata: float | None = None) -> DataFrame:
    """Per-pixel composite across a stack: Aggregate (A1) / LandsatMedianImage
    (A5) / Landsat_Image_Synthesis mean (A6) depending on measure + QA args.
    Never-clear pixels stay NaN (invalid) unless ``nodata`` substitutes a
    sentinel — see _reduce_group."""
    reducer = _MEASURES[measure]
    schema = _out_schema(group_cols, df)
    def _apply(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _reduce_group(key, pdf, group_cols, reducer, fmt_out,
                             value_band, qa_band, clear_values, order_col,
                             nodata)
    # group count is unbounded (tile positions) while group size is small
    # (acquisitions) — stream the sorted partition instead of paying the
    # per-group applyInPandas round trip (see grouped_sorted_map)
    return grouped_sorted_map(df, group_cols, _apply, schema)


def stack_percentile(df: DataFrame, q: float, group_cols: list[str] = ["scene_id"],
                     fmt_out: str = "zlib", value_band: int = 0,
                     qa_band: int | None = None,
                     clear_values: tuple[int, ...] = (),
                     nodata: float | None = None) -> DataFrame:
    """Per-pixel percentile across a QA-filtered stack — LandsatPixelPercentile
    (A4), with np.nanpercentile over axis 0 replacing the reference's
    per-pixel loop (LandsatPixelPercentile.py:175-190; same math)."""
    reducer = lambda s: np.nanpercentile(s, q, axis=0)
    schema = _out_schema(group_cols, df)
    def _apply(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _reduce_group(key, pdf, group_cols, reducer, fmt_out,
                             value_band, qa_band, clear_values, None, nodata)
    return grouped_sorted_map(df, group_cols, _apply, schema)


def stack_topk(df: DataFrame, k: int, group_cols: list[str] = ["scene_id"],
               fmt_out: str = "zlib") -> DataFrame:
    """Per-pixel k-th max across the stack — FindMax/FindSecondMax/FindThirdMax
    (A8: np.sort along stack axis, FindSecondMax.py:73)."""
    def reducer(s):
        srt = np.sort(s, axis=0)  # ascending; k-th max = [-k]
        return srt[-k] if s.shape[0] >= k else srt[0]
    schema = _out_schema(group_cols, df)
    def _apply(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _reduce_group(key, pdf, group_cols, reducer, fmt_out,
                             0, None, (), None)
    return grouped_sorted_map(df, group_cols, _apply, schema)


def find_max_k(df: DataFrame, k: int = 1, cap: float = 100.0,
               group_cols: list[str] = ["scene_id"],
               fmt_out: str = "zlib", value_band: int = 0) -> DataFrame:
    """Per-pixel k-th max across the stack with the FindMax family's exact
    validity rule (FindMax.py:66-84, FindSecondMax.py:73,
    FindThirdMax.py:73): values > ``cap`` are invalidated to −1 before the
    sort, and pixels where every member is invalid stay −1. This is the
    math the FindMaxPixel_Mosaic .rft templates bind (the sort-then-index
    over the acquisition axis), vectorized per tile group."""
    def reducer(s):
        v = s.copy()
        v[v > cap] = -1.0
        srt = np.sort(v, axis=0)         # ascending; k-th max = [-k]
        out = srt[-k] if v.shape[0] >= k else srt[0]
        all_invalid = ~(v != -1.0).any(axis=0)
        out = np.where(all_invalid, -1.0, out)
        return out
    schema = _out_schema(group_cols, df)
    def _apply(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _reduce_group(key, pdf, group_cols, reducer, fmt_out,
                             value_band, None, (), None)
    return grouped_sorted_map(df, group_cols, _apply, schema)


def grouped_sorted_map(df: DataFrame, group_cols: list[str], fn,
                       out_schema: T.StructType,
                       num_partitions: int | None = None,
                       flush_rows: int = 64) -> DataFrame:
    """``groupBy().applyInPandas`` without the per-GROUP Arrow round trip.

    applyInPandas pays ~ms of serde/scheduling per group — fine for big
    groups, ruinous for millions of tiny ones (and AQE coalesces a small
    partials shuffle to few partitions, serializing it; measured 28.6s vs
    1.7s of kernel time in BENCH/notes_r4.md). Here: hash-repartition on
    the group key, sort within partitions, then stream the partition
    through ONE mapInPandas that stitches group runs across Arrow batch
    boundaries and calls ``fn(key_tuple, group_pdf)`` per group, buffering
    outputs into chunked frames. Parallelism is pinned by
    ``num_partitions`` (AQE can't collapse it), per-group overhead is a
    dict lookup. fn must be insensitive to row order within the group
    unless it sorts internally (same contract as applyInPandas)."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    d = df.repartition(n, *group_cols).sortWithinPartitions(*group_cols)
    cols = list(group_cols)

    def run(batches):
        pend = None
        buf: list[pd.DataFrame] = []

        def emit(key, g):
            # empty frames are dropped, not concatenated: pandas is ending
            # its exclusion of them from the result dtypes (FutureWarning),
            # and focal assembly returns one for every halo target past
            # the grid edge. With every frame empty nothing is yielded and
            # the declared output schema stands.
            out = fn(tuple(key), g)
            if len(out):
                buf.append(out)

        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True) if len(pdf) else pend
                pend = None
            if not len(pdf):
                continue
            last = tuple(pdf[c].iloc[-1] for c in cols)
            mask = np.ones(len(pdf), bool)
            for c, v in zip(cols, last):
                # null-safe run detection: a null key is still a group
                # (applyInPandas keeps it), so NaN must match NaN here
                if pd.isna(v):
                    mask &= pdf[c].isna().to_numpy()
                else:
                    mask &= (pdf[c] == v).to_numpy()
            body, pend = pdf[~mask], pdf[mask]
            for key, g in body.groupby(cols, sort=False, dropna=False):
                emit(key if isinstance(key, tuple) else (key,), g)
            if len(buf) >= flush_rows:
                yield pd.concat(buf, ignore_index=True)
                buf = []
        if pend is not None and len(pend):
            emit(tuple(pend[c].iloc[0] for c in cols), pend)
        if buf:
            yield pd.concat(buf, ignore_index=True)

    return d.mapInPandas(run, schema=out_schema)


def _partial_schema(group_cols: list[str], df: DataFrame) -> T.StructType:
    return T.StructType([df.schema[c] for c in group_cols] + [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()), T.StructField("h", T.IntegerType()),
        T.StructField("bands", T.IntegerType()),
        T.StructField("n_members", T.IntegerType()),
    ])


def stack_topk_assoc(df: DataFrame, k: int = 1, cap: float | None = None,
                     invalid: float = -1.0,
                     group_cols: list[str] = ["scene_id"],
                     value_band: int = 0,
                     fmt_out: str = "zlib") -> DataFrame:
    """FindMax-family reduction with MAP-SIDE COMBINE — the 100-TB path.

    ``groupBy + applyInPandas`` ships every member's pixels through the
    shuffle (n_members × tile bytes per position). The k-th-largest-per-
    pixel statistic is associative: the global answer lives in the union
    of per-subset top-k. So stage 1 (mapInPandas, NO shuffle) reduces each
    input partition's members per position to the per-pixel k largest
    (capped values > ``cap`` invalidated to ``invalid`` first — the
    FindMax.py:66-84 rule) plus the per-pixel min as a guard band for the
    n_members < k edge; stage 2 shuffles only those partials (≤ (k+1)
    bands each, independent of members-per-partition) and merges. With
    inputs clustered by scene/time — the common layout — shuffle volume
    drops by ~members-per-partition ×. Exact for the integer-valued
    rasters the FindMax family targets (sort/max are order-free)."""
    kk = int(k)

    def cap_vals(v: np.ndarray) -> np.ndarray:
        if cap is not None:
            v = np.where(v > cap, invalid, v)
        return v

    part_schema = _partial_schema(group_cols, df)

    def partial(batches):
        for pdf in batches:
            rows = []
            for key, g in pdf.groupby(group_cols, sort=False, dropna=False):
                key = key if isinstance(key, tuple) else (key,)
                stack = np.stack([
                    cap_vals(codec.decode(bytes(b))[value_band]
                             .astype(np.float64))
                    for b in g["bytes"]])
                srt = np.sort(stack, axis=0)
                top = srt[-min(kk, srt.shape[0]):]       # per-pixel largest
                out = np.concatenate([srt[:1], top])     # guard: per-px min
                row = dict(zip(group_cols, key))
                row.update({"bytes": codec.encode(out.astype(np.float64),
                                                  fmt_out),
                            "w": out.shape[2], "h": out.shape[1],
                            "bands": out.shape[0],
                            "n_members": stack.shape[0]})
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in part_schema])

    partials = df.mapInPandas(partial, schema=part_schema)
    out_schema = _out_schema(group_cols, df)

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        decoded = [codec.decode(bytes(b)) for b in pdf["bytes"]]
        mins = np.stack([d[0] for d in decoded])
        tops = np.concatenate([d[1:] for d in decoded])
        n_total = int(pdf["n_members"].sum())
        srt = np.sort(tops, axis=0)
        if n_total >= kk:
            red = srt[-kk]
        else:
            red = mins.min(axis=0)                       # global smallest
        if cap is not None:
            all_invalid = ~(tops != invalid).any(axis=0)
            red = np.where(all_invalid, invalid, red)
        return pd.DataFrame([{**dict(zip(group_cols, key)),
                              **tile_row(red.astype(np.float32), fmt_out),
                              "n_rasters": n_total}])

    # tiny partials, many groups → the streamed grouped map (see
    # grouped_sorted_map: applyInPandas per-group overhead would dominate)
    return grouped_sorted_map(partials, group_cols, merge, out_schema)


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
    part_schema = _partial_schema(group_cols, df)

    def partial(batches):
        for pdf in batches:
            rows = []
            for key, g in pdf.groupby(group_cols, sort=False, dropna=False):
                key = key if isinstance(key, tuple) else (key,)
                acc_s = acc_n = None
                n = 0
                for b in g["bytes"]:
                    px = codec.decode(bytes(b))
                    v = px[value_band].astype(np.float64)
                    if qa_band is not None:
                        # same validity rule as the batch path
                        # (stack_composite masks non-clear to NaN then
                        # nanmeans): a QA-clear pixel whose value is NaN
                        # must not poison the Σ partial
                        valid = (np.isin(px[qa_band],
                                         np.asarray(clear_values))
                                 & ~np.isnan(v))
                        contrib = np.where(valid, v, 0.0)
                        cnt = valid.astype(np.float64)
                    elif nan_skip:
                        valid = ~np.isnan(v)
                        contrib = np.where(valid, v, 0.0)
                        cnt = valid.astype(np.float64)
                    else:
                        contrib = v                       # NaN propagates
                        cnt = np.ones_like(v)
                    acc_s = contrib if acc_s is None else acc_s + contrib
                    acc_n = cnt if acc_n is None else acc_n + cnt
                    n += 1
                out = np.stack([acc_s, acc_n])
                row = dict(zip(group_cols, key))
                row.update({"bytes": codec.encode(out, fmt_out),
                            "w": out.shape[2], "h": out.shape[1],
                            "bands": 2, "n_members": n})
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in part_schema])

    return df.mapInPandas(partial, schema=part_schema)


def merge_mean_partials(partials: DataFrame,
                        group_cols: list[str] = ["scene_id"],
                        fmt_out: str = "zlib") -> DataFrame:
    """Stage 2: sum the [Σ, count] partial tiles per position and divide —
    streamed through grouped_sorted_map (groups are tiny and unbounded)."""
    out_schema = _out_schema(group_cols, partials)

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["bytes"]:
            d = codec.decode(bytes(b)).astype(np.float64)
            acc = d if acc is None else acc + d
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(acc[1] > 0, acc[0] / acc[1], np.nan)
        return pd.DataFrame([{**dict(zip(group_cols, key)),
                              **tile_row(mean.astype(np.float32), fmt_out),
                              "n_rasters": int(pdf["n_members"].sum())}])

    return grouped_sorted_map(partials, group_cols, merge, out_schema)


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
    schema = _out_schema(group_cols, df)
    def _apply(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _reduce_group(key, pdf, group_cols, reducer, fmt_out,
                             None, None, (), order_col)
    return grouped_sorted_map(df, group_cols, _apply, schema)


def percent_above_threshold(df: DataFrame, threshold: float,
                            group_cols: list[str] = ["scene_id"],
                            value_band: int = 0, above: bool = True,
                            time_col: str | None = None,
                            t_min=None, t_max=None) -> DataFrame:
    """Scalar %-of-stack-pixels beyond a threshold, optionally time-filtered —
    PercentAboveThreshold (A7; date-range filter
    PercentAboveThreshold.py:124-137). Pure Catalyst: the time filter is a
    plain predicate (prunes partitions on a date-partitioned table) and the
    ratio is avg of a boolean — fully decomposable, no stack materialized."""
    d = df
    # open-ended ranges: apply each bound independently — ANDing with a
    # null literal makes the predicate null and silently filters out
    # EVERY row (t_min without t_max returned an empty result before)
    if time_col is not None:
        if t_min is not None:
            d = d.filter(F.col(time_col) >= t_min)
        if t_max is not None:
            d = d.filter(F.col(time_col) <= t_max)

    def per_tile(batches):
        for pdf in batches:
            fracs = []
            for b in pdf["bytes"]:
                px = codec.decode(bytes(b))[value_band].astype(np.float64)
                hit = px >= threshold if above else px <= threshold
                fracs.append(float(hit.mean()))
            out = pdf[[c for c in pdf.columns if c != "bytes"]].copy()
            out["frac"] = fracs
            yield out

    schema = T.StructType([f for f in d.schema if f.name != "bytes"]
                          + [T.StructField("frac", T.DoubleType())])
    per = d.mapInPandas(per_tile, schema)
    return (per.groupBy(*group_cols)
            .agg(F.round(F.avg("frac") * 100.0, 6).alias("pct"),
                 F.count("*").alias("n_rasters")))


def stack_stats_decomposable(df: DataFrame, group_cols: list[str],
                             value_band: int = 0) -> DataFrame:
    """Decomposable stack statistics (sum/count/mean/min/max of per-tile
    aggregates) via pure Catalyst hash agg — the partial+final two-phase
    plan Spark gives for free (SURVEY.md A1 note). Use for measures that
    don't need the co-registered per-pixel stack."""
    def per_tile(batches):
        for pdf in batches:
            out = pdf[[c for c in pdf.columns if c != "bytes"]].copy()
            sums, mins, maxs, cnts = [], [], [], []
            for b in pdf["bytes"]:
                px = codec.decode(bytes(b))[value_band].astype(np.float64)
                sums.append(px.sum()); mins.append(px.min())
                maxs.append(px.max()); cnts.append(px.size)
            out["px_sum"] = sums; out["px_min"] = mins
            out["px_max"] = maxs; out["px_n"] = cnts
            yield out
    schema = T.StructType([f for f in df.schema if f.name != "bytes"] + [
        T.StructField("px_sum", T.DoubleType()), T.StructField("px_min", T.DoubleType()),
        T.StructField("px_max", T.DoubleType()), T.StructField("px_n", T.LongType())])
    per = df.mapInPandas(per_tile, schema)
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
