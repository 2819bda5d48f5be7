"""Declarative function-chain specs — the engine's answer to .rft.xml.

The reference serializes logical plans as nested RasterFunctionTemplate
XML trees (SURVEY.md §3 entry point 2: VineyardAnalysis.rft.xml composes
a Python operator over nested Slope/Aspect built-ins, with variables at
the leaves). Here a chain is a JSON-able list of operator specs:

    [
      {"op": "stretch", "args": {"in_min": 0, "in_max": 255}},
      {"op": "calculator", "args": {"expression": "Sin(a)*2",
                                    "band_names": {"a": 0}}},
      {"op": "hillshade", "args": {"cellsize": 0.001}},   # focal → halo
    ]

``build_chain`` resolves names against the operator registry and fuses
consecutive zero-padding ops into single mapInPandas passes (SURVEY.md
O11); each focal op becomes a halo-exchange stage that runs its
zero-padding neighbours too. The registry plays the role of the XML
``PythonModule``/``ClassName`` dynamic binding
(deprecated/NDVI.rft.xml:12-27).

Chain outputs follow the tile-row contract in :mod:`raster` (``TILE_FIELDS``
filled by ``tile_row``).
"""

from __future__ import annotations

import json
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..raster import TileOp, apply_aligned, apply_chain, join_tiles
from ..operators import effects, focal, pointwise

REGISTRY: dict[str, Callable[..., TileOp]] = {
    # pointwise (F-class)
    "ndvi": pointwise.ndvi,
    "nbr": pointwise.nbr,
    "arithmetic": pointwise.band_arithmetic,
    "windchill": pointwise.windchill,
    "heat_index": pointwise.heat_index,
    "fuzzy_membership": pointwise.fuzzy_membership,
    "qa_bitmask": pointwise.qa_bitmask,
    "qa_clear": pointwise.qa_clear,
    "replace_value": pointwise.replace_value,
    "fill_constant": pointwise.fill_constant,
    "mask_apply": pointwise.mask_apply,
    "calculator": pointwise.calculator,
    "latitude": pointwise.latitude_source,
    "random": pointwise.random_source,
    "vineyard": pointwise.vineyard_suitability,
    "fish_habitat": pointwise.fish_habitat_suitability,
    "linear_unmixing": pointwise.linear_unmixing,
    "per_second_to_per_month": pointwise.per_second_to_per_month,
    "stretch": pointwise.stretch,
    "remap": pointwise.remap,
    "colormap": pointwise.colormap,
    "composite_bands": pointwise.composite_bands,
    "vector_field": pointwise.vector_field,
    # focal (W-class; padding > 0 → halo exchange)
    "hillshade": focal.hillshade,
    "multidirectional_hillshade": focal.multidirectional_hillshade,
    "slope": focal.slope,
    "aspect": focal.aspect,
    "aspect_slope_class": focal.aspect_slope_class,
    "rank_filter": focal.rank_filter,
    "mask_erode": focal.mask_erode,
    "focal_statistics": focal.focal_statistics,
    "block_statistics": focal.block_statistics,
    # block effects (F15)
    "cubism": effects.cubism,
    "chuck_close": effects.chuck_close,
}


def _zonal_remap_builder(zones, value_band: int = 0, zone_band: int = 1,
                         default: float = 255.0,
                         background: float | None = None) -> TileOp:
    """REGISTRY adapter for the per-pixel ZonalRemap: the .rft importer
    hands zones as JSON-able rows ({zone_id, zmin, zmax, zval}; open ends
    None) — either inline from the template's RecordSet or resolved from
    build_chain's ctx when the template binds the table at runtime."""
    import pandas as pd

    from ..operators import zonal
    zpdf = pd.DataFrame(list(zones))
    for c in ("zmin", "zmax", "zval"):
        if c not in zpdf.columns:
            zpdf[c] = np.nan
    return zonal.zonal_remap(zpdf, value_band=value_band, zone_band=zone_band,
                             default=default, background=background)


REGISTRY["zonal_remap"] = _zonal_remap_builder


def register(name: str, builder: Callable[..., TileOp]) -> None:
    """Plugin registration — the UDF-protocol analog (SURVEY.md §2.11)."""
    REGISTRY[name] = builder


def parse_chain(spec) -> list[TileOp]:
    """Spec (list / JSON string) → list of TileOps. ``branch_stack`` nodes
    are structural and handled by build_chain, not here."""
    if isinstance(spec, str):
        spec = json.loads(spec)
    ops = []
    for node in spec:
        name = node["op"]
        if name == "branch_stack":
            raise ValueError("branch_stack is structural — run via build_chain")
        if name not in REGISTRY:
            raise ValueError(f"unknown operator {name!r}; known: {sorted(REGISTRY)}")
        ops.append(REGISTRY[name](**node.get("args", {})))
    return ops


def stack_tiles(dfs: list[DataFrame], fmt_out: str = "zlib",
                grid_cols: tuple[str, str, str] = ("scene_id", "tx", "ty")) -> DataFrame:
    """Band-concatenate co-registered tile tables: align them on the grid
    keys (:func:`raster.join_tiles` — a branch that reduced away part of
    the grid, such as a mosaic composite keyed by tile position only,
    attaches its composite to every member row), decode each side once,
    stack bands as f4, re-encode. Non-pixel metadata columns ride along
    from the first table."""
    keys = [c for c in grid_cols if c in dfs[0].columns]
    return apply_aligned(join_tiles(dfs, keys), keys, lambda parts, meta: np.concatenate(
        [p.astype(np.float32) for p in parts], axis=0), fmt_out)


def _resolve_ctx_args(args: dict, ctx: dict | None) -> dict:
    """Replace {"$ctx": name} placeholders (runtime-bound template
    variables, e.g. ZonalRemap's zone table) with values from ctx."""
    out = {}
    for k, v in (args or {}).items():
        if isinstance(v, dict) and set(v) == {"$ctx"}:
            name = v["$ctx"]
            if ctx is None or name not in ctx:
                raise ValueError(
                    f"chain arg {k!r} is bound at runtime — pass "
                    f"build_chain(..., ctx={{{name!r}: ...}})")
            v = ctx[name]
        out[k] = v
    return out


def build_chain(df: DataFrame, spec, fmt_out: str = "zlib",
                meta_cols: tuple[str, ...] = (),
                grid_cols: tuple[str, str, str] = ("scene_id", "tx", "ty"),
                ctx: dict | None = None) -> DataFrame:
    """Apply a chain spec to a tile table in one Python pass per stage.
    A chain of pointwise ops fuses into one decode→kernels→encode pass
    (:func:`raster.apply_chain`). Each focal op becomes a halo exchange
    stage (:func:`operators.focal.apply_focal`, an emit and an assemble
    pass) that also runs its pointwise neighbours: the ops before the
    first focal op in the emit pass, the ops after each focal op (up to
    the next one) in its assemble pass. The output tiles equal the
    unfused ``apply_chain(apply_focal(apply_chain(df, pre), op), post)``
    byte for byte under lossless formats; a lossy ``fmt_out`` is applied
    once instead of after every stage. Fused ops get the ``meta_cols``
    values, as :func:`raster.apply_chain` gives them.

    ``{"op": "branch_stack", "branches": [spec, …]}`` nodes (emitted by the
    .rft.xml importer for multi-input templates) evaluate each branch from
    the current tile table and band-concatenate the results via
    :func:`stack_tiles`. Branches share the parent's lineage — for deep
    parents, persist the input before calling.

    ``{"op": "mosaic", "kind": ..., "args": ...}`` nodes (collection-level
    templates) route to :func:`plans.mosaic.apply_mosaic`;
    ``{"op": "select_by_pixel_size", ...}`` routes between its two branches
    by ``ctx['request_cellsize']`` (or the table's own cell size). ``ctx``
    also resolves runtime-bound template variables ({"$ctx": name} args)
    and mosaic bindings (member_col, replacement/mask/dem tables …)."""
    if isinstance(spec, str):
        spec = json.loads(spec)
    out = df
    pending_specs: list = []

    def flush_linear(cur: DataFrame, nodes: list) -> DataFrame:
        ops = parse_chain([{**n, "args": _resolve_ctx_args(n.get("args"), ctx)}
                           for n in nodes])
        focal_at = [i for i, op in enumerate(ops) if op.padding]
        if not focal_at:
            return apply_chain(cur, ops, fmt_out=fmt_out, meta_cols=meta_cols)
        # each halo stage runs the pointwise ops up to the next focal op
        # (its post list); the first one also runs the leading ops. The
        # chain's meta columns travel THROUGH every stage (plus the focal
        # op's own cell_dx default) so a meta-dependent op after it still
        # has them, while the fused pointwise ops see only the chain's
        # meta_cols, exactly as apply_chain would give them
        pre = ops[:focal_at[0]]
        for i, end in zip(focal_at, focal_at[1:] + [len(ops)]):
            cur = focal.apply_focal(
                cur, ops[i], fmt_out=fmt_out, grid_cols=grid_cols,
                meta_cols=tuple(dict.fromkeys(("cell_dx",) + tuple(meta_cols))),
                pre=pre, post=ops[i + 1:end], ops_meta_cols=tuple(meta_cols))
            pre = []
        return cur

    for node in spec:
        if node.get("op") == "branch_stack":
            if pending_specs:
                out = flush_linear(out, pending_specs)
                pending_specs = []
            outs = [build_chain(out, br, fmt_out=fmt_out, meta_cols=meta_cols,
                                grid_cols=grid_cols, ctx=ctx) if br else out
                    for br in node["branches"]]
            out = stack_tiles(outs, fmt_out=fmt_out, grid_cols=grid_cols)
        elif node.get("op") == "mosaic":
            from . import mosaic as _mosaic
            if pending_specs:
                out = flush_linear(out, pending_specs)
                pending_specs = []
            out = _mosaic.apply_mosaic(out, node["kind"],
                                       _resolve_ctx_args(node.get("args"), ctx),
                                       ctx=ctx, grid_cols=grid_cols,
                                       fmt_out=fmt_out)
        elif node.get("op") == "select_by_pixel_size":
            if pending_specs:
                out = flush_linear(out, pending_specs)
                pending_specs = []
            thr = float((node.get("args") or {}).get("threshold", 0.0))
            v = (ctx or {}).get("request_cellsize")
            if v is None:
                if "cell_dx" in out.columns and "cell_dy" in out.columns:
                    # metadata-scale scalar aggregate (one row) — mirrors
                    # props['cellSize'] in SelectByPixelSize.py:updatePixels
                    v = float(out.select(
                        ((F.avg("cell_dx") + F.avg("cell_dy")) / 2.0)
                        .alias("v")).first()["v"])
                else:
                    v = 1.0
            if thr <= 0.0:
                # reference default: mean of the two input cell sizes —
                # both branches derive from this table, so thr == v and the
                # coarse branch (r2) wins, matching `v < threshold` = False
                thr = v
            branch = node["branches"][0] if v < thr else node["branches"][1]
            out = build_chain(out, branch, fmt_out=fmt_out,
                              meta_cols=meta_cols, grid_cols=grid_cols,
                              ctx=ctx)
        elif node.get("op") == "stats_stretch":
            # stats-dependent stretch = a table-level two-pass plan, not a
            # TileOp (the .rft importer emits this for EstimateStatsHistogram
            # StretchFunctions)
            from ..raster import stretch_stats_apply
            if pending_specs:
                out = flush_linear(out, pending_specs)
                pending_specs = []
            out = stretch_stats_apply(out, fmt_out=fmt_out,
                                      **node.get("args", {}))
        else:
            pending_specs.append(node)
    if pending_specs:
        out = flush_linear(out, pending_specs)
    return out
