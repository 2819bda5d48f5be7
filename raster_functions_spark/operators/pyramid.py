"""Level-of-detail pyramid rollups — SURVEY.md O5 / Reference.py:157.

The reference serves requests at arbitrary resolutions by resampling on
the fly (``levelOfDetails`` metadata); a distributed engine materializes
parent levels instead: 2×2 child tiles merge into one parent tile at half
resolution. Queries then pick the level matching their zoom — the
pre-aggregation that turns "read 100 TB to render a thumbnail" into
"read the 25 GB level-10 table".

Parent tiles follow the tile-row contract in :mod:`raster` (``TILE_FIELDS``
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
from .focal import block_statistics_np


def pyramid_level(df: DataFrame, tile: int, measure: str = "mean",
                  grid_cols: tuple[str, str, str] = ("scene_id", "tx", "ty"),
                  fmt_out: str = "zlib") -> DataFrame:
    """One pyramid step: groupBy(parent tile) assembles up to 2×2 children,
    downsamples 2× (block reduce), emits the parent tile. Missing children
    (scene edges) leave zero-filled quadrants, matching mosaic-edge
    behavior. Chain calls to build the full pyramid."""
    scn, txc, tyc = grid_cols
    # FLOOR division: cast('int') truncates toward zero, which for
    # negative tile coordinates maps tx=-1 and tx=+1 to the same parent
    # (and % keeps Python floor-modulo semantics on the kernel side) —
    # children would silently overwrite each other's quadrant
    parent = (df.withColumn("ptx", F.floor(F.col(txc) / 2).cast("int"))
              .withColumn("pty", F.floor(F.col(tyc) / 2).cast("int")))
    out_schema = T.StructType([
        df.schema[scn],
        T.StructField(txc, T.IntegerType()), T.StructField(tyc, T.IntegerType()),
        *TILE_FIELDS,
        T.StructField("n_children", T.IntegerType()),
    ])

    def merge(key: tuple, pdf: pd.DataFrame) -> dict:
        mosaic = None
        for b, tx, ty in zip(pdf["bytes"].to_numpy(), pdf[txc].to_numpy(),
                             pdf[tyc].to_numpy()):
            px = codec.decode(bytes(b)).astype(np.float64)
            if mosaic is None:          # allocate from the first DECODE —
                mosaic = np.zeros(      # no extra decode just for shape
                    (px.shape[0], 2 * tile, 2 * tile), dtype=np.float64)
            qx, qy = int(tx) % 2, int(ty) % 2
            mosaic[:, qy * tile:(qy + 1) * tile, qx * tile:(qx + 1) * tile] = px
        down = np.stack([block_statistics_np(b, measure, 2) for b in mosaic])
        return {scn: key[0], txc: int(key[1]), tyc: int(key[2]),
                **tile_row(down.astype(np.float32), fmt_out), "n_children": len(pdf)}

    # ≤4 tiny rows per parent and (at scale) millions of parents — the
    # per-group applyInPandas Arrow round trip would dominate; stream the
    # sorted partition instead (stack.grouped_sorted_map, BENCH/notes_r4.md)
    from .stack import grouped_sorted_map
    return grouped_sorted_map(parent, [scn, "ptx", "pty"], merge, out_schema)


def build_pyramid(df: DataFrame, tile: int, levels: int,
                  measure: str = "mean",
                  grid_cols: tuple[str, str, str] = ("scene_id", "tx", "ty")
                  ) -> list[DataFrame]:
    """Full pyramid: list of DataFrames, level 0 = input, level i+1 = 2×
    coarser. Each level is one groupBy — at 100 TB this is a log₂-deep
    cascade of shrinking shuffles (level i+1 is ¼ the bytes of level i)."""
    out = [df]
    cur = df
    for _ in range(levels):
        cur = pyramid_level(cur, tile, measure, grid_cols).drop("n_children")
        out.append(cur)
    return out


def select_level(levels: list[DataFrame], request_cellsize: float,
                 base_cellsize: float) -> DataFrame:
    """Pick the pyramid level for a request resolution — the engine-side
    analog of SelectByPixelSize (J8, SelectByPixelSize.py:50-95): the
    COARSEST level still at least as fine as the request (cellsize =
    base·2^lvl ≤ request_cellsize via floor(log2)), level 0 when the
    request is finer than the base."""
    import math
    if request_cellsize <= base_cellsize:
        return levels[0]
    lvl = min(int(math.floor(math.log2(request_cellsize / base_cellsize))),
              len(levels) - 1)
    return levels[lvl]
