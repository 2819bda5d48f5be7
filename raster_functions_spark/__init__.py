"""raster_functions_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query/data-processing capabilities of Esri/raster-functions
(reference surveyed in SURVEY.md) as an idiomatic Spark engine:

- tiled image tables (one row per raster tile; pixels as encoded ``binary``),
- vectorized pandas/Arrow UDF kernels for per-tile pixel operators,
- a hierarchical Z-order cell index (pure Column expressions — JVM-side),
- broadcast / partitioned point-in-polygon joins against vector AOI tables,
- halo (neighbor-tile) joins for focal/window kernels,
- mosaic/time-stack composites via groupBy + NumPy reductions,
- plus web-scale training-data ops: dedup (exact/MinHash-LSH/SimHash),
  ANN similarity search, text quality analysis.

No code is ported from the reference; citations in docstrings are to the
*behavior* being matched (file:line into /root/reference).
"""

__version__ = "0.1.0"

from . import _worker

if _worker.in_worker():
    _worker.install()
