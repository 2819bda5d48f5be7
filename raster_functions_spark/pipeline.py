"""The flagship end-to-end pipeline (BASELINE.json metric):

    point-in-polygon join → cell-encode → decode → zonal stats

On the broadcast route one fused mapInPandas pass joins before it
decodes: the PIP kernel assigns each Arrow batch's lon/lat to AOIs
first, then only the distinct assigned images are cell-encoded, decoded
and summarized (scalar features + fidelity checks), once each however
many AOIs hold them; an image outside every AOI is never decoded.
Caption passthrough is structural: the column is never touched. The
partitioned route runs two Python passes: decode_features (every image;
the cell is a codegen Column), then spatial.pip_join_partitioned's
exact-PIP refine after its JVM-built cover and ring joins. The PIP join
picks broadcast vs partitioned by vector-side size; the routing probe IS
the bounded AOI collect (spatial.broadcast_aoi with limit=), one driver
job. Zonal stats are a plain hash aggregation: one Exchange on (aoi_id,
cell) for the decomposable partials and one on aoi_id for the merge. The
broadcast route returns at most ``broadcast_threshold`` rows, so it
orders them in one partition (coalesce(1) + sortWithinPartitions: no
range-partition sample job, no range Exchange); the partitioned route
keeps a global orderBy. A broadcast pass is 4 Spark jobs: the AOI
collect, the kernel stage, the merge stage and the ordered tail.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec, fixtures, grid, session, spatial

# the image columns _assign_batch reads: the broadcast kernel scans only
# these (decode_features, the partitioned route's kernel, adds fmt)
_KERNEL_COLS = ("image_id", "caption", "bytes", "phash", "lon", "lat")


def decode_features(images: DataFrame, cell_res: int = 7) -> DataFrame:
    """Fused decode + per-tile features + fidelity columns + cell id.

    Emits: image_id, caption, lon, lat, fmt, phash_ham (hamming of the
    recomputed phash vs the stored one — the fidelity gate; -1 marks an
    undecodable payload), px_mean/px_std (NaN when undecodable), n_px,
    cell. The decode is PERMISSIVE, same rule as the fused broadcast
    path (_decode_feature_arrays): this function feeds the partitioned
    (large-AOI) flagship route, which must not die on corrupt rows
    either."""
    session.ship_package(images.sparkSession)
    out_schema = T.StructType([
        images.schema["image_id"], images.schema["caption"],
        images.schema["lon"], images.schema["lat"],
        T.StructField("fmt", T.StringType()),
        T.StructField("phash_ham", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_std", T.DoubleType()),
        T.StructField("n_px", T.LongType()),
    ])

    def run(batches):
        for pdf in batches:
            mean, std, ham, npx = _decode_feature_arrays(pdf)
            out = pdf[["image_id", "caption", "lon", "lat", "fmt"]].copy()
            out["phash_ham"] = ham
            out["px_mean"] = mean
            out["px_std"] = std
            out["n_px"] = npx
            yield out

    feats = images.select(*_KERNEL_COLS, "fmt").mapInPandas(run, schema=out_schema)
    return feats.withColumn("cell", grid.encode_col(F.col("lon"), F.col("lat"), cell_res))


def _zonal_agg(assigned: DataFrame, route: str) -> DataFrame:
    """Batch flagship aggregation — expressed as the MERGE of the same
    decomposable partials the incremental view commits
    (_assigned_partials → merge_flagship_partials), so the batch and
    materialized-view paths share one definition of every statistic and
    cannot drift. ``route`` is the prepare_aoi route; see _by_aoi."""
    return _by_aoi(_merged_stats(_assigned_partials(assigned)), route)


def _by_aoi(stats: DataFrame, route: str) -> DataFrame:
    """Order the per-AOI rows by aoi_id. The broadcast route yields at
    most one row per broadcast AOI (≤ broadcast_threshold, all of them
    already held on the driver), so one partition sorts them with no
    range-partition sample job and no range Exchange; any other result
    may be unbounded and keeps the global orderBy."""
    if route == "broadcast":
        return stats.coalesce(1).sortWithinPartitions("aoi_id")
    return stats.orderBy("aoi_id")


def flagship_assigned(spark: SparkSession, images: DataFrame, aoi: DataFrame,
                      cell_res: int = 7,
                      broadcast_threshold: int = 10000) -> DataFrame:
    """PIP join → cell-encode → decode with ONE fused Python pass
    (SURVEY.md O11): bbox prefilter and exact PIP, then vectorized
    cell-encode, decode and features for the assigned images only
    (_assign_batch), all on each Arrow batch in a single worker, over a
    scan pruned to the six columns the kernel reads; the assigned rows
    need no shuffle at all (the zonal aggregation that follows in flagship
    is the first).

    At N tasks this runs exactly N Python workers (separate decode / join
    / agg stages would run 3N — a 3× oversubscription that inverts
    local-mode scaling and wastes executor memory on a real cluster).

    Routing: the fused path materializes the AOI table on the driver and
    broadcasts it, which is the right call for the typical few-thousand-
    polygon case but a ceiling at millions of polygons. The same bounded
    collect as spatial.pip_join (at most N+1 rows, never a full count; see
    prepare_aoi) routes oversized vector sides to the fused-decode +
    cell-cover partitioned join, which never touches the driver."""
    session.ship_package(spark)
    prep = prepare_aoi(spark, aoi, broadcast_threshold)
    return flagship_assigned_prepared(spark, images, prep, cell_res)


_ASSIGNED_SCHEMA = ("aoi_id long, image_id string, caption string, cell long, "
                    "px_mean double, px_std double, phash_ham int")


def prepare_aoi(spark: SparkSession, aoi: DataFrame,
                broadcast_threshold: int = 10000):
    """One-time AOI preparation for the fused flagship: ONE bounded
    collect (spatial.broadcast_aoi with limit=broadcast_threshold: at most
    threshold + 1 rows) that is both the routing decision and, on the
    broadcast route, the broadcast payload. Returns ("broadcast", bcast)
    or ("partitioned", aoi) when the table has more rows than the
    threshold. Streaming sinks MUST call this once outside their
    per-batch closure — re-collecting/re-broadcasting a static dim per
    microbatch runs a driver job every batch and leaks one broadcast per
    batch (they are never destroyed)."""
    baoi = spatial.broadcast_aoi(spark, aoi, limit=broadcast_threshold)
    if baoi is None:
        return ("partitioned", aoi)
    return ("broadcast", baoi)


def flagship_assigned_prepared(spark: SparkSession, images: DataFrame,
                               prep, cell_res: int = 7) -> DataFrame:
    """The per-batch half of flagship_assigned, reusing a prepare_aoi
    result (see prepare_aoi for why streaming callers need the split)."""
    kind, payload = prep
    if kind == "partitioned":
        feats = decode_features(images, cell_res)
        return spatial.pip_join_partitioned(feats, payload)
    baoi = payload

    def run(batches):
        a = baoi.value
        for pdf in batches:
            yield _assign_batch(pdf, a, cell_res)

    return images.select(*_KERNEL_COLS).mapInPandas(run, schema=_ASSIGNED_SCHEMA)


def _assign_batch(pdf: pd.DataFrame, aoi_arrays, cell_res: int) -> pd.DataFrame:
    """The fused per-batch body of every broadcast flagship path, join
    before decode: the shared broadcast-PIP kernel (spatial.pip_assign_np:
    AOI-chunked bbox prefilter + exact crossing-number refine) runs first
    on lon/lat, then cell-encode and decode + features
    (_decode_feature_arrays) run on the distinct assigned images only and
    are gathered back to the match rows → _ASSIGNED_SCHEMA rows. An image
    outside every AOI is never decoded; one inside k overlapping AOIs is
    decoded once, not k times."""
    x = pdf["lon"].to_numpy(np.float64)
    y = pdf["lat"].to_numpy(np.float64)
    ridx, aid = spatial.pip_assign_np(aoi_arrays, x, y)
    rows, inv = np.unique(ridx, return_inverse=True)
    cells = grid.encode_np(x[rows], y[rows], cell_res)
    mean, std, ham, _npx = _decode_feature_arrays(pdf.iloc[rows])
    return pd.DataFrame({
        "aoi_id": aid,
        "image_id": pdf["image_id"].to_numpy()[ridx],
        "caption": pdf["caption"].to_numpy()[ridx],
        "cell": cells[inv],
        "px_mean": mean[inv], "px_std": std[inv],
        "phash_ham": ham[inv],
    })


def _decode_feature_arrays(pdf: pd.DataFrame):
    """Permissive per-image decode+features over one Arrow batch — ONE
    definition for every flagship path: a corrupt payload at 10^12-row
    scale is a certainty; mark it (phash_ham = -1, NaN stats), never kill
    the task (rows stay joinable/countable downstream). codec.decode
    raises ValueError for every malformed container, so only that is
    caught: any other error is a bug and fails the task."""
    n = len(pdf)
    mean = np.empty(n); std = np.empty(n); ham = np.empty(n, np.int32)
    npx = np.zeros(n, np.int64)
    bufs = pdf["bytes"].to_numpy()
    hashes = pdf["phash"].to_numpy()
    for i in range(n):
        try:
            px = codec.decode(bytes(bufs[i]))
            ham[i] = codec.hamming64(codec.phash64(px), int(hashes[i]))
            f = px.astype(np.float64)
            mean[i] = f.mean(); std[i] = f.std(); npx[i] = f.size
        except ValueError:
            ham[i] = -1
            mean[i] = np.nan; std[i] = np.nan
    return mean, std, ham, npx


def flagship(spark: SparkSession, images: DataFrame, aoi: DataFrame,
             cell_res: int = 7, broadcast_threshold: int = 10000) -> DataFrame:
    """The headline query: fused assigned rows (flagship_assigned) → zonal
    aggregation. See flagship_assigned for the fusion/routing story."""
    session.ship_package(spark)
    prep = prepare_aoi(spark, aoi, broadcast_threshold)
    return _zonal_agg(flagship_assigned_prepared(spark, images, prep, cell_res),
                      prep[0])


def flagship_from_seed(spark: SparkSession, n_images: int, aoi: DataFrame,
                       cell_res: int = 7, partitions: int | None = None) -> DataFrame:
    """Fully fused flagship from the deterministic generator: ONE Python
    pass per task does PIP→synthesize→encode→cell→decode→features
    (_seed_batch): the PIP runs on the closed-form tile positions first, so
    only the images it assigns are ever synthesized. The only shuffles are
    the zonal agg's two, and no image bytes ever cross the JVM↔Python
    boundary. This is the CPU-bound variant used for scaling-efficiency
    evidence (the sandbox's virtio disk throttles unpredictably, so a
    disk-backed scan measures the hypervisor, not the engine — see
    BENCH/BASELINE.md).

    ``partitions=None`` → data-proportional task sizing: ~2000 images per
    task, floored at 2 waves per core. Measured (BENCH/notes_r3.md): with
    ~400-image tasks the per-task Arrow/worker round trip (~10-17 ms) is a
    fixed floor that scales at only ~0.4 efficiency and capped the whole
    pipeline's 8→32 scaling; ~1500-2000-image tasks put it under 2% of
    task wall. The rule stays data-proportional, so at 10^9 images it
    yields ~500k tasks, not a fixed 64."""
    session.ship_package(spark)
    if partitions is None:
        cores = spark.sparkContext.defaultParallelism
        partitions = max(2 * cores, (n_images + 1999) // 2000)
    baoi = spatial.broadcast_aoi(spark, aoi)

    def run(batches):
        a = baoi.value
        for idx_pdf in batches:
            yield _seed_batch(idx_pdf["id"].to_numpy(), a, cell_res)

    assigned = (spark.range(0, n_images, 1, partitions)
                .mapInPandas(run, schema=_ASSIGNED_SCHEMA))
    return _zonal_agg(assigned, "broadcast")


def _seed_batch(ids: np.ndarray, aoi_arrays, cell_res: int) -> pd.DataFrame:
    """flagship_from_seed's per-batch body: the PIP on the closed-form
    fixtures.tile_lonlat positions of ``ids`` picks the distinct assigned
    ids, and only those are synthesized (fixtures.images_pdf) and handed
    to _assign_batch. Same rows, in the same order, as _assign_batch over
    every id's image."""
    ll = np.array([fixtures.tile_lonlat(i) for i in ids.tolist()],
                  np.float64).reshape(-1, 2)
    ridx, _ = spatial.pip_assign_np(aoi_arrays, ll[:, 0], ll[:, 1])
    # zlib_level=3: _assign_batch decodes these bytes and none of them
    # leave this task — level 3 is ~1.8× faster to compress and slightly
    # smaller on this data (codec.encode)
    pdf = fixtures.images_pdf(ids[np.unique(ridx)], zlib_level=3)
    return _assign_batch(pdf, aoi_arrays, cell_res)


# ------------------------------------------------ incremental flagship ----

def _assigned_partials(assigned: DataFrame) -> DataFrame:
    """The decomposable per-(aoi, cell) partial aggregates over
    already-assigned rows — THE single definition both the batch helper
    and the streaming sink share (they must never diverge: the merged
    view is compared against the batch flagship oracle). Grouping by
    (aoi, cell) — instead of r5's per-AOI partials PLUS a separate
    (aoi, cell) pairs dataset — makes n_cells free (it is the group key)
    and collapses the view commit to ONE aggregation and ONE dataset,
    which halved the microbatch fixed cost (BENCH/notes_r6.md §5).
    Cardinality per batch is bounded by AOIs × cells-per-AOI, same as
    the old pairs table, never by image count."""
    ok = lambda c: f"CASE WHEN NOT isnan({c}) THEN {c} END"
    return (assigned.groupBy("aoi_id", "cell")
            .agg(*_sql_aggs(
                n_images="count(*)",
                s_mean=f"sum({ok('px_mean')})",
                k_mean=f"count({ok('px_mean')})",
                s_std=f"sum({ok('px_std')})",
                k_std=f"count({ok('px_std')})",
                max_phash_ham="max(phash_ham)",
                n_bad="sum(CASE WHEN phash_ham < 0 THEN 1 ELSE 0 END)")))


def _sql_aggs(**aggs: str) -> list:
    """One parsed SQL aggregate per output column: a string costs one
    driver→JVM call to build, where the equivalent F.when/F.col chain
    costs one per node (the plan is identical)."""
    return [F.expr(f"{sql} AS {name}") for name, sql in aggs.items()]


def start_flagship_incremental(stream_images: DataFrame, aoi: DataFrame,
                               view_path: str, checkpoint: str,
                               cell_res: int = 7,
                               compact_every: int | None = None,
                               expire_every: int | None = None,
                               keep_last: int = 64,
                               view_buckets: int = 16,
                               query_name: str = "flagship-incremental",
                               run_prefix: str = "batch"):
    """The flagship zonal query as a continuously-updatable materialized
    view: each image microbatch runs PIP→cell→decode once (the
    broadcast kernel decodes only the images its PIP assigns), reduces to
    the per-(aoi, cell) decomposable partials (_assigned_partials — ONE
    aggregation; n_cells is the group key, so no second dataset), and
    commits ONE snapshot on the shared loop (SnapshotTable.microbatch_sink
    — exactly-once per <run_prefix>-<id>, with its checkpoint-identity
    caveat). ``current_flagship`` merges at read time.
    Work per batch ∝ batch size; view freshness is one tiny aggregation.

    Per-batch FIXED cost (r6, measured in BENCH/notes_r6.md §5): one
    Spark action per batch (r5 ran two dataset writes off a persisted
    intermediate), and the view partitions on a BUCKET of aoi_id
    (``_vb = aoi_id mod view_buckets``) with the tiny aggregate coalesced
    to one task. Partitioning by raw aoi_id wrote one file+dir per AOI
    VALUE per dataset per batch (~400 filesystem objects/commit at 200
    AOIs — listing, committing and manifesting them was most of the
    ~5s/batch constant the r5 probe measured); bucketing caps it at
    view_buckets objects regardless of AOI count. The view never
    overwrites by AOI, so the only partition-layout consumers are
    compaction (fewer, larger groups — strictly better) and the
    manifest."""
    from .snapshots import SnapshotTable

    spark = stream_images.sparkSession
    vt = SnapshotTable(spark, view_path)
    # static dim: probe + collect + broadcast ONCE for the stream's
    # lifetime (doing it per microbatch leaked one broadcast per batch)
    prep = prepare_aoi(spark, aoi)
    vb = F.pmod(F.col("aoi_id"), F.lit(view_buckets)).cast("long")

    def commit(batch_df: DataFrame, run_id: str, _) -> None:
        assigned = flagship_assigned_prepared(spark, batch_df, prep, cell_res)
        partials = _assigned_partials(assigned)
        vt.append_tables(
            {"partials": (partials.withColumn("_vb", vb).coalesce(1), "_vb")},
            run_id=run_id)

    return vt.start_stream(
        stream_images, vt.microbatch_sink(commit, run_prefix, compact_every,
                                          expire_every, keep_last),
        checkpoint, query_name)


def current_flagship(spark: SparkSession, view_path: str) -> DataFrame:
    """Merge the committed partials into the flagship's output schema
    (same columns as :func:`flagship`); consistent at any snapshot."""
    from .snapshots import SnapshotTable

    vt = SnapshotTable(spark, view_path)
    return merge_flagship_partials(vt.read(table="partials"))


def merge_flagship_partials(p: DataFrame) -> DataFrame:
    """Merge per-(aoi, cell) [Σ, count] partials into the flagship's
    output schema — THE one definition of the flagship's statistics,
    used by the batch aggregation (_zonal_agg) and the materialized view
    (current_flagship) alike. n_cells = countDistinct(cell) (the same
    cell recurs across batches; within one batch groups are unique).
    Ordered by aoi_id with a global orderBy: a view's row count is not
    bounded by any broadcast."""
    return _by_aoi(_merged_stats(p), "partitioned")


def _merged_stats(p: DataFrame) -> DataFrame:
    """The unordered merge behind merge_flagship_partials and _zonal_agg."""
    return p.groupBy("aoi_id").agg(*_sql_aggs(
        n_images="sum(n_images)",
        mean_px="round(sum(s_mean) / sum(k_mean), 6)",
        mean_std="round(sum(s_std) / sum(k_std), 6)",
        n_cells="count(DISTINCT cell)",
        max_phash_ham="max(max_phash_ham)",
        n_bad="sum(n_bad)"))
