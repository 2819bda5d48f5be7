"""SparkSession factory tuned for the tiling engine.

Local-mode defaults mirror what we would set per-executor on a real cluster:
AQE on (runtime skew-join splitting + partition coalescing), shuffle
partitions ~ cores, Arrow enabled for all pandas-UDF traffic, UTC session
timezone (required for DuckDB-oracle comparisons), and BLAS/OMP pinned to one
thread per task so NumPy kernels inside Arrow batches don't oversubscribe
cores (the reference pins BLAS threads the same way:
/root/reference/functions/LandsatMedianImage.py:4-9).

Per-task Python worker cost: two fixed costs fall between tasks in a
reused worker, and the package ``__init__`` installs ``_worker``'s hooks
inside workers to cut both.

- PySpark starts every Python task with ``importlib.invalidate_caches()``,
  which on Python >= 3.10 makes each zip importer re-read its archive's
  central directory (``pyspark.zip`` once per imported sub-package, plus
  the shipped package zip) — ~225 ms of CPU per task in a warm worker,
  more than a small tile task's own work. The stat-keyed hook skips an
  unchanged archive. Its counterpart here: ``ship_package`` writes the
  package zip once per content hash and adds each file once per
  SparkContext, so an archive that workers import from never changes.
- PySpark's daemon runs a full ``gc.collect()`` after every task in a
  reused worker, and each one walks the ~73,000 objects tracked since
  import (20-35 ms of CPU). A reused worker freezes its import-time heap
  once (``gc.freeze()``), so later collections walk only newer objects. A
  worker that is not reused runs one task and freezes nothing. Reference
  counting still frees frozen objects: only reference cycles among the
  objects alive at the freeze are never collected.

The driver's JVM heap defaults to about half of physical memory, capped
at 48g (``default_driver_memory``); ``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Pin NumPy/BLAS threads before NumPy is imported anywhere on workers.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
    os.environ.setdefault(_v, "1")


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` default: about half of ``phys_bytes`` (the
    host's physical memory when None), in MiB, capped at 48g. A larger
    heap than the host holds gets the JVM killed instead of collected."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (AttributeError, ValueError, OSError):     # no sysconf names
            return "48g"
    return f"{min(phys_bytes // 2, 48 << 30) >> 20}m"


def get_spark(app_name: str = "raster_functions_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]`` unless a master is already configured.
    spark-submit sets ``spark.master`` as a system property BEFORE this
    builder runs, and an unconditional ``.master()`` here would OVERRIDE
    --master yarn/k8s and silently run a cluster job on the driver node —
    so the local default applies only when no master is configured and
    ``cores`` was not explicitly requested.
    """
    n = cores or os.cpu_count() or 8
    from pyspark import SparkConf
    has_master = SparkConf().contains("spark.master")
    sp = shuffle_partitions or max(n, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # (r7: an 8× initialPartitionNum over-partitioning experiment was
        # measured and REVERTED — alternating same-window A/B at sf1.0
        # showed it 0.6-0.9s slower on the heaviest query in every trial;
        # more shuffle blocks + AQE coalescing overhead, no win.)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if cores is not None:
        # explicit local-parallelism request (tests/benches) — intentional
        builder = builder.master(f"local[{cores}]")
    elif not has_master:
        builder = builder.master(os.environ.get("SPARK_MASTER", "local[*]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ensure_min_parallelism(df, bytes_per_core: int = 4 * 1024 * 1024):
    """Round-robin a SMALL input up to cluster parallelism.

    Parquet effective scan parallelism is bounded by row-group count, not
    split count — a one-row-group table puts EVERY row in one task no
    matter how many splits the scan plans, which serializes any heavy per-row
    stage built on it (the r7 profile: the whole minhash signature kernel
    and the langid marker scoring each ran on a single core). The rule is
    size-based and self-limiting: repartition only when the total input is
    under cores × ``bytes_per_core`` — exactly the regime where the extra
    exchange is trivially cheap. Large tables and unknowable sizes — no
    input files (an in-memory or range source), a non-local file system —
    are NEVER repartitioned, so the helper is a no-op at 100-TB scale.
    Row-wise downstream results are partitioning-invariant."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except AnalysisException:    # a streaming input lists no files
        return df
    if not files:
        return df
    total = 0
    for uri in files:
        if not uri.startswith("file:"):
            return df            # non-local FS: cannot stat cheaply — skip
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        try:
            total += os.path.getsize(path)
        except OSError:
            return df
    if total >= cores * bytes_per_core:
        return df
    return df.repartition(cores)


def package_zip(path: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The north rule requires the engine to run via ``spark-submit
    --py-files`` on multi-executor clusters; this builds that artifact.
    Without ``path`` the zip goes to the temp directory under a name
    carrying a hash of the package's content, and is written only when
    no file of that name exists: a zip that workers may already import
    from is never rewritten in place."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = []                                   # (path, name in the zip)
    for root, dirs, names in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(names):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                files.append((full, os.path.join("raster_functions_spark",
                                                 os.path.relpath(full, pkg_dir))))
    if path is None:
        digest = hashlib.sha1()
        for full, rel in files:
            digest.update(rel.encode() + b"\0")
            with open(full, "rb") as f:
                digest.update(f.read())
        path = os.path.join(tempfile.gettempdir(),
                            f"raster_functions_spark-{digest.hexdigest()[:16]}.zip")
        if os.path.exists(path):
            return path
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in files:
            zf.write(full, rel)
    os.replace(tmp, path)
    return path


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers regardless of
    the driver's cwd (equivalent of launching with --py-files). The repo's
    `__spark_entry__.py` ships too when present: its module-level helpers
    (per-tile stat lambdas) are pickled BY REFERENCE into mapInPandas
    closures, so executors must be able to import the module even when the
    driver was launched from another directory.

    Cheap to call per query: each file is added once per SparkContext.
    A file whose name the context already lists is skipped (the package
    zip's name carries its content hash), so a failing ``addPyFile`` is a
    real failure and raises. One ``mkString`` call reads the list: the
    public ``listFiles`` walks the Scala Seq element by element (~20 ms)."""
    sc = spark.sparkContext
    added = {uri.rsplit("/", 1)[-1]
             for uri in sc._jsc.sc().listFiles().mkString("\n").split("\n")}
    entry = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "__spark_entry__.py")
    for path in (package_zip(), entry):
        if os.path.basename(path) not in added and os.path.exists(path):
            sc.addPyFile(path)
