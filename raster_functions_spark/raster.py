"""Tile-table plumbing: fused decode → kernel chain → encode/stats.

The reference's execution model is a pull-based chain of per-block operators
that never materializes intermediates (/root/reference/README.md:4-5). The
Spark-native equivalent: ONE ``mapInPandas`` pass per pipeline stage that
decodes each tile's ``bytes`` once, runs the whole fused kernel chain on the
in-memory ndarray, and either re-encodes (tile→tile pipelines) or emits
scalar stat columns (tile→relational pipelines). Narrow, no shuffle; Arrow
batches keep the Python boundary amortized (SURVEY.md §4 O9/O11).

Operators are declarative :class:`TileOp` objects mirroring the reference's
``getConfiguration``/``updateRasterInfo`` metadata negotiation
(/root/reference/functions/Reference.py:67-185): they declare padding,
band needs and output dtype/bands so the planner can decide halo joins and
band pruning before any data moves.

The tile-row contract: a tile table carries one encoded tile per row in
the six columns of :data:`TILE_FIELDS` — ``bytes`` (the :mod:`codec`
container), ``w``/``h``/``bands`` (int) and ``dtype``/``fmt`` (the
container's type and format codes), always equal to
``codec.peek_header(bytes)``. Every operator that emits tiles appends
:data:`TILE_FIELDS` after its own key/meta columns and fills them with
:func:`tile_row`, which reads shape and dtype off the encoded array, so
no emitter restates them.

Every tile operator has one of five shapes, each with one owner:

- chain — zero-padding :class:`TileOp` kernels fused into one pass:
  :func:`chained_tiles` (the decode → ops loop) behind
  :func:`apply_chain` (tiles out) and :func:`tile_stats` (scalars out);
- halo — padded ops over a tile and its neighbours' edge strips:
  :func:`operators.focal.apply_focal`, one emit and one assemble pass
  with the chain's zero-padding neighbours fused in (leading ops run on
  the decoded tile before its strips are cut, trailing ops on the
  kernel's output), so ``plans.chain.build_chain`` runs no
  :func:`apply_chain` pass next to a halo stage;
- stack — reductions over a group of co-registered members:
  ``operators.stack._composite`` (full stack) and
  ``_partial_tiles`` / ``_merge_partials`` (map-side partials);
- aligned multi-input — several co-registered tables, one kernel over
  the decoded sides: :func:`join_tiles` (the alignment join),
  :func:`aligned_tiles` (the decode loop) and :func:`apply_aligned`;
- whole scene — a kernel over each scene's assembled mosaic:
  :func:`scene_map`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec


@dataclass
class TileOp:
    """A per-tile pixel operator (the reference's 'raster function').

    ``fn(px, meta) -> px`` operates on one decoded ``(bands, h, w)`` ndarray;
    ``meta`` carries the row's scalar columns (georeference, acquisition
    metadata — the reference's key metadata). Declarative fields mirror
    getConfiguration:

    - ``padding``     — halo pixels needed (0 ⇒ pure map; >0 ⇒ run via
                        :mod:`operators.focal` halo exchange)
    - ``bands_in``    — band indices consumed (``None`` = all); the analog
                        of ``extractBands`` band pruning (Reference.py:80-82)
    - ``bands_out`` / ``dtype_out`` — output schema negotiation
                        (updateRasterInfo analog, Reference.py:118-185)
    """

    name: str
    fn: Callable[[np.ndarray, dict], np.ndarray]
    padding: int = 0
    bands_in: tuple[int, ...] | None = None
    bands_out: int | None = None
    dtype_out: str | None = None
    params: dict = field(default_factory=dict)

    def apply(self, px: np.ndarray, meta: dict) -> np.ndarray:
        if self.bands_in is not None:
            px = px[list(self.bands_in)]
        out = self.fn(px, meta)
        return out if out.ndim == 3 else out[None]


TILE_FIELDS = [
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()), T.StructField("h", T.IntegerType()),
    T.StructField("bands", T.IntegerType()), T.StructField("dtype", T.StringType()),
    T.StructField("fmt", T.StringType()),
]
TILE_COLS = tuple(f.name for f in TILE_FIELDS)


def tile_row(px: np.ndarray, fmt: str) -> dict:
    """Encode one ``(bands, h, w)`` or ``(h, w)`` tile into its
    :data:`TILE_FIELDS` values, shape and dtype taken from the array."""
    if px.ndim == 2:
        px = px[None]
    return {"bytes": codec.encode(px, fmt), "w": px.shape[2], "h": px.shape[1],
            "bands": px.shape[0], "dtype": px.dtype.str.lstrip("<>=|"), "fmt": fmt}


def tile_columns(rows: list[dict]) -> dict:
    """A batch of :func:`tile_row` values as columns (shape columns int32),
    for column-wise emitters: ``pdf[keep].assign(**tile_columns(rows))``."""
    return {c: np.array([r[c] for r in rows], np.int32) if c in ("w", "h", "bands")
            else [r[c] for r in rows] for c in TILE_COLS}


def chained_tiles(ops: list[TileOp], meta_cols: Iterable[str] = (),
                  bytes_col: str = "bytes") -> Callable:
    """The one decode → fused chain loop. Checks at plan time that every op
    is zero-padding (padded ops need the halo exchange of
    :func:`operators.focal.apply_focal`) and returns ``tiles(pdf)``, which
    yields ``(px, meta)`` per row of an Arrow batch: the decoded tile after
    every op in ``ops``, and the row's ``meta_cols`` values."""
    if any(op.padding for op in ops):
        raise ValueError("padded ops must go through operators.focal.apply_focal")
    meta_cols = list(meta_cols)

    def tiles(pdf: pd.DataFrame):
        metas = {c: pdf[c].to_numpy() for c in meta_cols}
        for ridx, buf in enumerate(pdf[bytes_col].to_numpy()):
            px = codec.decode(bytes(buf))
            meta = {c: v[ridx] for c, v in metas.items()}
            for op in ops:
                px = op.apply(px, meta)
            yield px, meta

    return tiles


def apply_chain(df: DataFrame, ops: list[TileOp], fmt_out: str = "zlib",
                meta_cols: Iterable[str] = (), keep_cols: Iterable[str] | None = None,
                bytes_col: str = "bytes") -> DataFrame:
    """Run a fused chain of zero-padding ops over every tile: decode once,
    apply all kernels, encode once. Returns the input columns (minus pixel
    shape changes) with the tile-row columns rewritten. Chain composition =
    the reference's function-chain templates (SURVEY.md §3 entry point 2)
    expressed as plain Python composition."""
    tiles = chained_tiles(ops, meta_cols, bytes_col)
    keep = list(keep_cols) if keep_cols is not None else \
        [c for c in df.columns if c not in (bytes_col, *TILE_COLS)]
    out_schema = T.StructType([df.schema[c] for c in keep] + TILE_FIELDS)

    def run(batches):
        for pdf in batches:
            rows = [tile_row(px, fmt_out) for px, _ in tiles(pdf)]
            yield pdf[keep].assign(**tile_columns(rows))

    return df.mapInPandas(run, schema=out_schema)


def tile_stats(df: DataFrame, ops: list[TileOp],
               stats: dict[str, Callable[[np.ndarray, dict], float]],
               meta_cols: Iterable[str] = (), keep_cols: Iterable[str] | None = None,
               bytes_col: str = "bytes") -> DataFrame:
    """Decode → fused kernel chain → per-tile scalar statistics (no
    re-encode). This is the raster→relational bridge: downstream zonal
    aggregation is a plain Catalyst groupBy over the emitted columns."""
    tiles = chained_tiles(ops, meta_cols, bytes_col)
    keep = list(keep_cols) if keep_cols is not None else \
        [c for c in df.columns if c != bytes_col]
    out_schema = T.StructType([df.schema[c] for c in keep]
                              + [T.StructField(s, T.DoubleType()) for s in stats])

    def run(batches):
        for pdf in batches:
            cols: dict[str, list] = {s: [] for s in stats}
            for px, meta in tiles(pdf):
                for s, fn in stats.items():
                    cols[s].append(float(fn(px, meta)))
            out = pdf[keep].copy()
            for s in stats:
                out[s] = np.array(cols[s], dtype=np.float64)
            yield out

    return df.mapInPandas(run, schema=out_schema)


# ------------------------------------------- aligned multi-input tiles --

def join_tiles(dfs: list[DataFrame], keys: Iterable[str]) -> DataFrame:
    """Align co-registered tile tables — the reference's several
    ``pixelBlocks`` (grid-alignment join J4): every table after the first
    is equi-joined on the ``keys`` it carries, so a side reduced to fewer
    keys (a composite keyed by tile position only) attaches to every
    matching row. The first table keeps its non-tile columns; table
    ``k``'s ``bytes`` becomes column ``_b{k}``."""
    keys = list(keys)
    out = dfs[0].withColumnRenamed("bytes", "_b0").drop(*TILE_COLS[1:])
    for k, d in enumerate(dfs[1:], start=1):
        dk = [c for c in keys if c in d.columns]
        out = out.join(d.select(*dk, F.col("bytes").alias(f"_b{k}")), dk)
    return out


def _sides(columns: Iterable[str]) -> list[str]:
    """The ``_b{k}`` tile columns of a :func:`join_tiles` table, in order."""
    return [c for c in columns if c.startswith("_b") and c[2:].isdigit()]


def aligned_tiles(keys: Iterable[str], meta_cols: Iterable[str] = ()) -> Callable:
    """The one decode loop over :func:`join_tiles` rows: ``tiles(pdf)``
    yields ``(parts, meta)`` per row — every side decoded once, in table
    order, and the row's ``meta_cols`` values. Raises ``ValueError``
    naming the row's ``keys`` when the sides' ``(h, w)`` differ."""
    keys, meta_cols = list(keys), list(meta_cols)

    def tiles(pdf: pd.DataFrame):
        sides = _sides(pdf.columns)
        for r in range(len(pdf)):
            parts = [codec.decode(bytes(pdf[c].iloc[r])) for c in sides]
            if len({p.shape[1:] for p in parts}) > 1:
                at = ", ".join(f"{c}={pdf[c].iloc[r]}" for c in keys)
                raise ValueError(f"aligned tiles differ in (h, w) at {at}: "
                                 f"{[p.shape[1:] for p in parts]}")
            yield parts, {c: pdf[c].iloc[r] for c in meta_cols}

    return tiles


def apply_aligned(joined: DataFrame, keys: Iterable[str], fn: Callable,
                  fmt_out: str = "zlib", meta_cols: Iterable[str] = ()) -> DataFrame:
    """Run ``fn(parts, meta) -> px`` over every row of a :func:`join_tiles`
    table: returns its non-tile columns with the tile-row columns of
    ``px`` appended."""
    tiles = aligned_tiles(keys, meta_cols)
    keep = [c for c in joined.columns if c not in _sides(joined.columns)]
    out_schema = T.StructType([joined.schema[c] for c in keep] + TILE_FIELDS)

    def run(batches):
        for pdf in batches:
            rows = [tile_row(fn(parts, meta), fmt_out) for parts, meta in tiles(pdf)]
            yield pdf[keep].assign(**tile_columns(rows))

    return joined.mapInPandas(run, schema=out_schema)


def scene_map(joined: DataFrame, tile: int, grid_cols: tuple[str, str, str],
              fn: Callable, fmt_out: str = "zlib",
              meta_cols: Iterable[str] = ()) -> DataFrame:
    """Whole-scene operator (the reference's ``ProcessFullImage``) over a
    :func:`join_tiles` table of ``tile``×``tile`` tiles: one group per
    scene assembles band 0 of every side into a float64 mosaic from the
    ``(tx, ty)`` grid, runs ``fn(mosaics, meta) -> (H, W)`` with the
    scene's first-row ``meta_cols`` values, and re-tiles the result with
    :func:`tile_row`. Scene size is bounded by executor memory."""
    scn, txc, tyc = grid_cols
    meta_cols = list(meta_cols)
    sides = _sides(joined.columns)
    tiles = aligned_tiles(grid_cols)
    out_schema = T.StructType([joined.schema[c] for c in grid_cols] + TILE_FIELDS)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        txs, tys = pdf[txc].to_numpy(), pdf[tyc].to_numpy()
        mosaics = [np.zeros(((tys.max() + 1) * tile, (txs.max() + 1) * tile))
                   for _ in sides]
        wins = [(slice(ty * tile, (ty + 1) * tile), slice(tx * tile, (tx + 1) * tile))
                for tx, ty in zip(txs, tys)]
        for win, (parts, _) in zip(wins, tiles(pdf)):
            for m, p in zip(mosaics, parts):
                m[win] = p[0]
        out = fn(mosaics, {c: pdf[c].iloc[0] for c in meta_cols})
        return pdf[list(grid_cols)].assign(
            **tile_columns([tile_row(out[win], fmt_out) for win in wins]))

    return (joined.select(*grid_cols, *meta_cols, *sides).groupBy(scn)
            .applyInPandas(run, schema=out_schema))


def update_key_metadata(df: DataFrame, band_index: int | None = None,
                        **metadata) -> DataFrame:
    """Inject/override dataset- or band-level key properties — the
    KeyMetadata operator (SURVEY.md F16,
    /root/reference/functions/deprecated/KeyMetadata.py:63-108). Dataset
    scope → plain columns; band scope → ``band<k>_<name>`` columns (bands
    are columns-within-arrays here, so their metadata are table columns)."""
    out = df
    prefix = "" if band_index is None else f"band{band_index}_"
    for k, v in metadata.items():
        out = out.withColumn(prefix + k, F.lit(v))
    return out


def catalog(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Header-only catalog crawl (no pixel decode) — the analog of
    /root/reference/scripts/ExtractRasterInfo.py:1-11 over a binary table."""
    @F.pandas_udf("fmt string, dtype string, bands int, h int, w int, nbytes int")
    def peek(s: pd.Series) -> pd.DataFrame:
        rows = [codec.peek_header(bytes(b)) for b in s]
        return pd.DataFrame(rows)
    return df.withColumn("hdr", peek(F.col(bytes_col)))


# ------------------------------------------------ stats-dependent stretch --

def global_value_stats(df: DataFrame, band: int = 0,
                       bytes_col: str = "bytes") -> tuple[float, float]:
    """Pass 1 of a stats-dependent stretch: dataset-wide min/max of one
    band — decomposable per-tile partials, one tiny aggregate."""
    parts = tile_stats(df, [], {
        "_mn": lambda px, m, b=band: float(px[b].min()),
        "_mx": lambda px, m, b=band: float(px[b].max()),
    }, keep_cols=[], bytes_col=bytes_col)
    row = parts.agg(F.min("_mn").alias("mn"), F.max("_mx").alias("mx")).first()
    return float(row["mn"]), float(row["mx"])


def global_histogram(df: DataFrame, gmin: float, gmax: float,
                     bins: int = 1024, band: int = 0,
                     bytes_col: str = "bytes") -> np.ndarray:
    """Dataset-wide value histogram over [gmin, gmax]: per-tile bincount
    kernels → explode → codegen sum per bin (array HOF aggregation runs
    interpreted, so the rollup goes through rows). Returns (bins,) int64."""
    span = max(gmax - gmin, 1e-300)

    def run(batches):
        for pdf in batches:
            hs = np.zeros(bins, np.int64)
            for b in pdf[bytes_col]:
                v = codec.decode(bytes(b))[band].astype(np.float64).ravel()
                idx = np.clip(((v - gmin) / span * bins).astype(np.int64),
                              0, bins - 1)
                hs += np.bincount(idx, minlength=bins)
            yield pd.DataFrame({"bin": np.arange(bins), "n": hs})

    rolled = (df.select(bytes_col).mapInPandas(run, "bin int, n long")
              .groupBy("bin").agg(F.sum("n").alias("n")).collect())
    out = np.zeros(bins, np.int64)
    for r in rolled:
        out[r["bin"]] = r["n"]
    return out


def percent_clip_thresholds(hist: np.ndarray, gmin: float, gmax: float,
                            min_percent: float, max_percent: float) -> tuple[float, float]:
    """Histogram-quantized clip thresholds (the PercentClip stretch): lo =
    lower edge of the first bin where the cumulative count reaches
    min_percent% of pixels; hi symmetric from the top. Bin-edge
    quantization (span/bins) is the documented resolution — the same
    trade real renderers make when stretching from a histogram."""
    total = int(hist.sum())
    span = gmax - gmin
    bins = hist.size
    cum = np.cumsum(hist)
    lo_k = int(np.searchsorted(cum, total * min_percent / 100.0, side="left"))
    hi_k = int(np.searchsorted(cum, total * (1.0 - max_percent / 100.0),
                               side="left"))
    lo = gmin + span * min(lo_k, bins - 1) / bins
    hi = gmin + span * (min(hi_k, bins - 1) + 1) / bins
    return lo, max(hi, lo + 1e-12)


def global_mean_std(df: DataFrame, band: int = 0,
                    bytes_col: str = "bytes") -> tuple[float, float]:
    """Dataset-wide population μ/σ of one band — decomposable (Σx, Σx², n)
    per-tile partials, one tiny final aggregate (the A10 two-pass shape)."""
    parts = tile_stats(df, [], {
        "_s1": lambda px, m, b=band: float(px[b].astype(np.float64).sum()),
        "_s2": lambda px, m, b=band: float((px[b].astype(np.float64) ** 2).sum()),
        "_n": lambda px, m, b=band: float(px[b].size),
    }, keep_cols=[], bytes_col=bytes_col)
    row = parts.agg(F.sum("_s1").alias("s1"), F.sum("_s2").alias("s2"),
                    F.sum("_n").alias("n")).first()
    mu = row["s1"] / row["n"]
    var = max(row["s2"] / row["n"] - mu * mu, 0.0)
    return float(mu), float(np.sqrt(var))


def stretch_stats_apply(df: DataFrame, stretch_type: str = "minmax",
                        min_percent: float = 0.0, max_percent: float = 0.0,
                        out_min: float = 0.0, out_max: float = 255.0,
                        band: int = 0, bins: int = 1024,
                        n_std: float = 2.0,
                        fmt_out: str = "zlib") -> DataFrame:
    """Stats-dependent stretch as the two-pass table-level plan (the A10
    pattern): pass 1 aggregates the dataset statistics the template's
    EstimateStatsHistogram flag asks for; pass 2 maps the stretch with the
    computed scalars broadcast as literals.

    'minmax' = StretchType 5; 'percent_clip' = 6 (histogram-quantized
    thresholds); 'stddev' = 3 (linear over μ ± n_std·σ — the template's
    NumberOfStandardDeviation); 'hist_equalize' = 4 (the classic CDF
    transfer: out = out_min + span·cdf(v), the histogram LUT broadcast to
    a per-pixel searchsorted gather)."""
    # the stats pass(es) read the same tiles 1-2x before the map pass:
    # persist across THEM, then release — holding the cache for the
    # (lazy) returned plan would pin a full tile-table copy in executor
    # storage per call with no handle for the caller to release it; the
    # map pass re-reads the raw lineage once instead
    df = df.persist()
    try:
        return _stretch_stats_apply_cached(
            df, stretch_type, min_percent, max_percent, out_min, out_max,
            band, bins, n_std, fmt_out)
    finally:
        df.unpersist()


def _stretch_stats_apply_cached(df, stretch_type, min_percent, max_percent,
                                out_min, out_max, band, bins, n_std,
                                fmt_out):
    from .operators import pointwise
    gmin, gmax = global_value_stats(df, band)
    if stretch_type == "percent_clip":
        hist = global_histogram(df, gmin, gmax, bins, band)
        in_min, in_max = percent_clip_thresholds(hist, gmin, gmax,
                                                 min_percent, max_percent)
    elif stretch_type == "minmax":
        in_min, in_max = gmin, max(gmax, gmin + 1e-12)
    elif stretch_type == "stddev":
        mu, sd = global_mean_std(df, band)
        in_min = max(gmin, mu - n_std * sd)
        in_max = min(gmax, mu + n_std * sd)
        in_max = max(in_max, in_min + 1e-12)
    elif stretch_type == "hist_equalize":
        hist = global_histogram(df, gmin, gmax, bins, band)
        total = max(int(hist.sum()), 1)
        cdf = np.cumsum(hist) / total              # (bins,) in (0, 1]
        span_in = max(gmax - gmin, 1e-300)
        lut = (out_min + (out_max - out_min) * cdf).astype(np.float64)

        def fn(px, meta, b=band, lo=gmin, sp=span_in, nb=bins, L=lut):
            v = px[b].astype(np.float64)
            idx = np.clip(((v - lo) / sp * nb).astype(np.int64), 0, nb - 1)
            return L[idx].astype(np.float32)

        op = TileOp("hist_equalize", fn, bands_out=1, dtype_out="f4")
        return apply_chain(df, [op], fmt_out=fmt_out)
    else:
        raise ValueError(f"unknown stats stretch type {stretch_type!r}")
    op = pointwise.stretch(band, in_min=in_min, in_max=in_max,
                           out_min=out_min, out_max=out_max)
    return apply_chain(df, [op], fmt_out=fmt_out)
