"""Mosaic-level template execution — the raster-COLLECTION half of the
reference's plan language (SURVEY.md §2.11).

A per-tile .rft chain maps one pixel block to one pixel block; the
reference's mosaic templates instead bind a whole RASTER COLLECTION
(`__IsRasterArray__` variables with MatchVariable/UnionDimension
PropertySets — FindMaxPixel_Mosaic.rft.xml) and reduce across its members
per pixel. On Spark the collection IS the tile table: members are rows
sharing a tile position, distinguished by a member column (acquisition id /
time step), and every mosaic operator is a groupBy(tile position) →
stack reduction that the engine's table-level API already implements
(operators/stack.py, operators/ml.py, operators/multiraster.py).

``apply_mosaic`` is the dispatch bridge: the .rft importer compiles a
mosaic template to ``{"op": "mosaic", "kind": ..., "args": {...}}`` and
``plans.chain.build_chain`` routes that node here. Runtime bindings the
XML leaves open (which column is the member axis, where the
replacement/mask/DEM tables live) arrive via the ``ctx`` dict — the
Spark analog of ArcGIS binding dataset variables at mosaic-dataset
configure time.

ctx keys (all optional unless a kind requires them):
  member_col        — collection-member column (default "t"); tile-position
                      group keys = grid_cols minus this column
  date_col          — acquisition date column in days since the reference's
                      1900 epoch (default "acq_days"; LandsatPixelPercentile
                      .py:155 uses datetime(1900,1,1) − 2 days)
  qa_band           — override the sensor-derived QA band index
  replacement, mask — tile tables for StepwiseLocalRadiometricAdjustment
  dem               — slope-source table for TopographicCCorrection
  current_year      — SeasonalARIMA's "now" (deterministic stand-in for
                      SeasonalARIMA.py:181's datetime.now())
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Landsat Collection-1 pixel-QA "clear" whitelists, by sensor family —
# LandsatPixelPercentile.py:36-48 / Landsat_Image_Synthesis.py constants.
LANDSAT_4_7_CLEAR = (66, 68, 130, 132)
LANDSAT_8_CLEAR = (322, 324, 386, 388, 834, 836, 898, 900)

# 1-based QA band number by sensor string (LandsatPixelPercentile.py:118-127)
_SENSOR_QA = {"Landsat TM": (7, LANDSAT_4_7_CLEAR),
              "Landsat ETM": (7, LANDSAT_4_7_CLEAR),
              "Landsat OLI": (9, LANDSAT_8_CLEAR)}

_MONTHS = {"Jan": 1, "Feb": 2, "Mar": 3, "Apr": 4, "May": 5, "Jun": 6,
           "Jul": 7, "Aug": 8, "Sep": 9, "Oct": 10, "Nov": 11, "Dec": 12}

# the reference's day-number epoch: datetime(1900,1,1) − 2 days
# (LandsatPixelPercentile.py:155, PercentAboveThreshold.py:131)
_EPOCH = datetime.datetime(1900, 1, 1) - datetime.timedelta(days=2)


def _days_since_epoch(stamp: str) -> float:
    """'m/d/Y[ H:M:S]' → fractional days since the reference epoch."""
    s = str(stamp).strip()
    fmt = "%m/%d/%Y %H:%M:%S" if " " in s else "%m/%d/%Y"
    return (datetime.datetime.strptime(s, fmt) - _EPOCH).total_seconds() / 86400.0


def _position_cols(grid_cols, ctx) -> list[str]:
    member = (ctx or {}).get("member_col", "t")
    pos = [c for c in grid_cols if c != member]
    return pos or list(grid_cols)


def _qa_config(args, ctx, df: DataFrame):
    """(qa_band, clear_values) for the sensor, ctx override first; None QA
    when the bound table has no QA band to mask with (probed from the
    first tile's header — a sensor-derived band index past the collection's
    band count means the QA band simply is not in this table)."""
    from .. import codec
    ctx = ctx or {}
    if "qa_band" in ctx:
        qa = ctx["qa_band"]
        return qa, tuple(ctx.get("clear_values")
                         or _SENSOR_QA.get(str(args.get("sensor")),
                                           (7, LANDSAT_4_7_CLEAR))[1])
    num, clear = _SENSOR_QA.get(str(args.get("sensor")), (7, LANDSAT_4_7_CLEAR))
    row = df.select("bytes").first()
    n_bands = codec.peek_header(bytes(row["bytes"]))["bands"] if row else 0
    if num - 1 >= n_bands:
        return None, ()
    return num - 1, clear


def _doy_filter(df: DataFrame, args, ctx) -> DataFrame:
    """year ∈ [start_year, end_year] AND day-of-year ∈ [start_day, end_day]
    on the epoch-days column — LandsatPixelPercentile.py:157-166's filter
    as a pure Catalyst predicate (prunes date-partitioned tables)."""
    col = (ctx or {}).get("date_col", "acq_days")
    d = F.date_add(F.lit("1899-12-30").cast("date"),
                   F.col(col).cast("int"))
    return df.filter(
        (F.year(d) >= int(args["start_year"])) & (F.year(d) <= int(args["end_year"]))
        & (F.dayofyear(d) >= int(args["start_day"]))
        & (F.dayofyear(d) <= int(args["end_day"])))


def apply_mosaic(df: DataFrame, kind: str, args: dict, ctx: dict | None = None,
                 grid_cols: tuple[str, ...] = ("scene_id", "tx", "ty"),
                 fmt_out: str = "zlib") -> DataFrame:
    """Execute one compiled mosaic node against the collection's tile table."""
    from ..operators import ml, multiraster, stack

    ctx = ctx or {}
    pos = _position_cols(grid_cols, ctx)
    pos = [c for c in pos if c in df.columns]
    member = ctx.get("member_col", "t")

    if kind == "find_max_k":
        # associative per-pixel top-k → map-side combine (stage-1 partial
        # reduction per input partition, shuffle carries only (k+1)-band
        # partials; BENCH/notes_r4.md measures the win)
        return stack.stack_topk_assoc(df, k=int(args.get("k", 1)),
                                      cap=float(args.get("cap", 100.0)),
                                      group_cols=pos, fmt_out=fmt_out)

    if kind == "pixel_percentile":
        qa_band, clear = _qa_config(args, ctx, df)
        d = _doy_filter(df, args, ctx)
        return stack.stack_percentile(
            d, q=float(args["percentile"]), group_cols=pos, fmt_out=fmt_out,
            qa_band=qa_band, clear_values=clear,
            nodata=-1.0)               # never-clear → −1 (LandsatPixelPercentile.py:190)

    if kind == "month_synthesis":
        month = _MONTHS[str(args["predict_month"])]
        col = ctx.get("month_col", "acq_month")
        d = df.filter(F.col(col) == month)
        # the template's 'sensor' argument drives QA cloud masking exactly
        # like pixel_percentile (Landsat_Image_Synthesis.py masks
        # non-clear members); collections without the QA band (probed)
        # keep the plain mean — the pre-r5 code read only the ctx
        # override, silently averaging cloudy pixels on real Landsat runs
        qa_band, clear = _qa_config(args, ctx, df)
        # mean is decomposable → map-side [Σ, count] partials
        return stack.stack_mean_assoc(
            d, group_cols=pos, fmt_out=fmt_out,
            qa_band=qa_band, clear_values=clear if qa_band is not None else ())

    if kind == "percent_above":
        col = ctx.get("date_col", "acq_days")
        return stack.percent_above_threshold(
            df, threshold=float(args["threshold"]), group_cols=pos,
            time_col=col, t_min=_days_since_epoch(args["start_date"]),
            t_max=_days_since_epoch(args["end_date"]))

    if kind == "aggregate":
        m = str(args.get("method", "Sum")).lower()
        if m == "average":
            # reference semantics = plain np.mean, NaN propagates
            # (deprecated/Aggregate.py:34,59) — decomposable, map-side combine
            return stack.stack_mean_assoc(df, group_cols=pos,
                                          fmt_out=fmt_out, nan_skip=False)
        measure = {"median": "median", "minimum": "min",
                   "maximum": "max", "standard deviation": "std"}.get(m, "sum")
        return stack.stack_composite(df, measure, group_cols=pos,
                                     fmt_out=fmt_out)

    if kind == "merge_first":
        return stack.stack_coalesce(df, group_cols=pos,
                                    order_col=member if member in df.columns else None,
                                    nodata=ctx.get("nodata"), fmt_out=fmt_out)

    if kind == "sarima_delta":
        so = args.get("seasonal_order", (0, 1, 1, 12))
        return ml.sarima_template_delta(
            df, data_start_year=int(args["data_start_year"]),
            train_start_year=int(args["train_start_year"]),
            train_end_year=int(args["train_end_year"]),
            predict_year=int(args["predict_year"]),
            predict_month=_MONTHS[str(args["predict_month"])],
            seasonal_order=tuple(int(x) for x in so),
            current_year=ctx.get("current_year"),
            group_cols=pos, order_col=member, fmt_out=fmt_out)

    if kind == "stepwise_adjust":
        for need in ("replacement", "mask"):
            if need not in ctx:
                raise ValueError(
                    f"StepwiseLocalRadiometricAdjustment needs ctx[{need!r}] "
                    "— the template binds its rasters at mosaic-configure "
                    "time; pass the tile tables in build_chain(ctx=...)")
        return multiraster.cloud_fill(
            df, ctx["replacement"], ctx["mask"],
            window=int(args.get("size_of_window", 80)),
            key_cols=[c for c in grid_cols if c in df.columns])

    if kind == "topographic_c":
        if "dem" not in ctx:
            raise ValueError("TopographicCCorrection needs ctx['dem'] (the "
                             "slope/aspect source table) plus sun_azimuth/"
                             "sun_elevation (scene metadata the reference "
                             "reads per acquisition); pass them in "
                             "build_chain(ctx=...)")
        return multiraster.topographic_c_correction(
            ctx["dem"], df,
            key_cols=[c for c in grid_cols if c in df.columns],
            sun_azimuth=float(ctx.get("sun_azimuth", 315.0)),
            sun_elevation=float(ctx.get("sun_elevation", 45.0)),
            cellsize=float(ctx.get("cellsize", 1.0)), fmt_out=fmt_out)

    raise ValueError(f"unknown mosaic kind {kind!r}")
