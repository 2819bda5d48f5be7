"""Checkpoint-resumable writes with per-partition lineage + metrics tables.

North-rule ops hardening: runs are resumable from checkpoint with
per-partition lineage and metrics (BASELINE.json north_rule). Mechanism:

- output is hash-bucketed on a stable key into ``n_buckets`` deterministic
  buckets (``pmod(xxhash64(key), n))`` — content-addressed, parallelism-
  independent);
- each bucket is written to ``<path>/bucket=<b>/`` exactly once; a manifest
  row (bucket, rows, written_at_run) is appended only after the bucket's
  files are committed;
- a resumed run reads the manifest and processes ONLY missing buckets —
  idempotent overwrite-by-bucket, the parquet/no-Iceberg equivalent of
  Iceberg's overwrite-by-filter.

Metrics per bucket (row count, value checksum) double as the per-partition
integrity table a 1000-executor run needs for auditing.

This is the WITHIN-RUN resume mechanism (one giant write, restartable by
bucket). The BETWEEN-RUN table lifecycle — immutable snapshots, time
travel, overwrite-by-filter, incremental reads, idempotent run commits —
lives in :mod:`raster_functions_spark.snapshots`, built on the same
atomic-manifest primitives (_read_manifest_path/_write_json_atomic).
"""

from __future__ import annotations

import json
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"


def bucketed(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)))


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for ``path`` via the JVM gateway — the
    manifest must live NEXT TO the data on whatever filesystem the output
    uses (S3/HDFS/local). Driver-local open()/os.path would break
    checkpoint-resume the moment the output path is an object store."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jvm.org.apache.hadoop.fs.Path


def _read_manifest_path(spark: SparkSession, full_path: str) -> dict | None:
    """Read a JSON document from any Hadoop filesystem; None if absent."""
    fs, Path = _hadoop_fs(spark, full_path)
    p = Path(full_path)
    if not fs.exists(p):
        return None
    jvm = spark._jvm
    stream = fs.open(p)
    baos = jvm.java.io.ByteArrayOutputStream()
    # copy on the JVM side — py4j passes byte[] by value, so a Python-side
    # read(buf) loop would never see the bytes
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, True)
    return json.loads(bytes(baos.toByteArray()).decode("utf-8"))


def _write_json_atomic(spark: SparkSession, dir_path: str, name: str,
                       doc: dict) -> None:
    """Atomic JSON publish: write <name>.tmp, then rename over <name> —
    readers see either the old or the new document, never a torn one."""
    fs, Path = _hadoop_fs(spark, dir_path)
    base = Path(dir_path)
    if not fs.exists(base):
        fs.mkdirs(base)
    tmp = Path(dir_path, name + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(json.dumps(doc, indent=1, sort_keys=True).encode("utf-8"))
    finally:
        out.close()
    dst = Path(dir_path, name)
    try:
        # atomic overwrite-rename (FileContext supports Rename.OVERWRITE on
        # HDFS and POSIX) — readers see old or new, with NO window where
        # the manifest is absent
        jvm = spark._jvm
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dst.toUri(), spark._jsc.hadoopConfiguration())
        overwrite = getattr(jvm.org.apache.hadoop.fs.Options.Rename,
                            "OVERWRITE")
        # rename(Path, Path, Rename...) is varargs — py4j needs the array
        arr = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1)
        arr[0] = overwrite
        fc.rename(tmp, dst, arr)
    except Exception:
        # object stores without FileContext rename: fall back to
        # delete+rename (small non-atomic window) but never swallow a
        # failed rename — a false return would leave NO manifest at all
        if fs.exists(dst):
            fs.delete(dst, False)
        if not fs.rename(tmp, dst):
            raise IOError(f"rename {tmp} -> {dst} failed")


def _read_manifest(spark: SparkSession, path: str) -> dict:
    m = _read_manifest_path(spark, f"{path}/{MANIFEST}")
    return m if m is not None else {"run_ids": [], "buckets": {}}


def _write_manifest(spark: SparkSession, path: str, m: dict) -> None:
    _write_json_atomic(spark, path, MANIFEST, m)


def checkpointed_write(df: DataFrame, path: str, key_col: str,
                       n_buckets: int = 16, run_id: str | None = None) -> dict:
    """Write ``df`` bucketed by ``key_col``; skip buckets already in the
    manifest (resume). Returns the manifest. Deterministic input ⇒ the
    union of any interleaving of runs equals the single-run output.
    ``n_buckets`` is part of the checkpoint's identity: it is recorded on
    first write and a resume with a different value REFUSES (re-bucketing
    mod a new count would duplicate rows into both old and new buckets
    and silently skip others)."""
    run_id = run_id or f"run-{int(time.time())}"
    spark = df.sparkSession
    manifest = _read_manifest(spark, path)
    prior_n = manifest.get("n_buckets")
    if prior_n is not None and prior_n != n_buckets:
        raise ValueError(
            f"checkpointed_write: n_buckets={n_buckets} does not match the "
            f"checkpoint's n_buckets={prior_n} at {path} — resuming with a "
            "different bucket count would corrupt the bucket↔row mapping")
    manifest["n_buckets"] = n_buckets
    done = set(map(int, manifest["buckets"]))
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return manifest
    b = bucketed(df, key_col, n_buckets).filter(F.col("bucket").isin(todo))
    (b.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(path))
    # metrics per bucket from the FILES JUST WRITTEN (not a re-aggregation
    # of the unmaterialized input, which would recompute the whole
    # pipeline a second time AND checksum a recompute rather than the
    # committed bytes)
    try:
        metrics = (spark.read.parquet(path)
                   .filter(F.col("bucket").isin(todo))
                   .groupBy("bucket")
                   .agg(F.count("*").alias("rows"),
                        F.sum(F.crc32(F.col(key_col).cast("string"))).alias("key_checksum"))
                   .collect())
    except AnalysisException as e:
        if "infer schema" not in str(e).lower() and "PATH_NOT_FOUND" not in str(e):
            raise
        # first run where EVERY todo bucket was empty: the dynamic
        # overwrite wrote no parquet files at all, so there is nothing to
        # read back — fall through and record all todo buckets as
        # written-empty below
        metrics = []
    manifest = _read_manifest(spark, path)
    manifest["n_buckets"] = n_buckets      # checkpoint identity (re-read
    for r in metrics:                      # drops the pre-write copy)
        manifest["buckets"][str(r["bucket"])] = {
            "rows": r["rows"], "key_checksum": r["key_checksum"], "run_id": run_id}
    # buckets with ZERO rows produce no parquet partition and no metrics
    # row — record them as written-empty, or every later call would
    # re-run the full write for permanently-"missing" buckets
    seen = {int(r["bucket"]) for r in metrics}
    for bkt in todo:
        if bkt not in seen:
            manifest["buckets"][str(bkt)] = {
                "rows": 0, "key_checksum": 0, "run_id": run_id}
    manifest["run_ids"].append({"run_id": run_id, "at": time.time(),
                                "buckets_written": sorted(todo)})
    _write_manifest(spark, path, manifest)
    return manifest


def read_checkpointed(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_cell_partitioned(df: DataFrame, path: str, lon_col: str = "lon",
                           lat_col: str = "lat", res: int = 3,
                           date_col: str | None = None) -> None:
    """Materialize an image/feature table partitioned by coarse parent cell
    (and optionally date) — the layout that makes spatial predicates prune
    files (SURVEY.md O2): a bbox query covers a handful of parent cells, so
    the scan touches only those directories. Partition count = 8^res-ish;
    res 3 ≈ 64 partitions globally (tune to cluster file-size targets)."""
    from . import grid
    out = df.withColumn("p_cell", grid.encode_col(F.col(lon_col), F.col(lat_col), res))
    cols = ["p_cell"] + ([date_col] if date_col else [])
    out.write.mode("overwrite").partitionBy(*cols).parquet(path)


def read_cells(spark: SparkSession, path: str,
               bbox: tuple[float, float, float, float], res: int = 3,
               lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Exact bbox read over a cell-partitioned table: the cell-cover IN
    list prunes PARTITIONS (directories never opened) and the bbox
    predicate prunes ROWS (pushed into the parquet scan) — the two-level
    spatial-predicate rewrite of SURVEY.md O2/O4."""
    from . import grid
    xmin, ymin, xmax, ymax = bbox
    cells = [int(c) for c in grid.cover_bbox(xmin, ymin, xmax, ymax, res)]
    df = spark.read.parquet(path)
    return df.where(F.col("p_cell").isin(cells)
                    & (F.col(lon_col) >= xmin) & (F.col(lon_col) <= xmax)
                    & (F.col(lat_col) >= ymin) & (F.col(lat_col) <= ymax))


def metrics_table(spark: SparkSession, path: str) -> DataFrame:
    """The per-partition metrics as a DataFrame (lineage side table)."""
    m = _read_manifest(spark, path)
    rows = [(int(b), v["rows"], v["key_checksum"], v["run_id"])
            for b, v in m["buckets"].items()]
    return spark.createDataFrame(rows, "bucket int, rows long, key_checksum long, run_id string")
