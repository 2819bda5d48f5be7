"""Mergeable cardinality sketches (HyperLogLog), built from scratch.

At 100-TB corpus scale "how many distinct users / URLs / content hashes
per slice" is a first-class curation question, and the exact answer
(``COUNT(DISTINCT ...)``) costs a full shuffle of every distinct key.
HyperLogLog (Flajolet et al., AofA 2007) answers it with a fixed
``m = 2^p`` register vector per group: the map side combines registers
locally (``max`` is associative), so the shuffle carries at most
``m`` rows per group regardless of input size — the canonical
distributed-sketch shape.

Everything here is deterministic and *exactly* replayable in DuckDB:

- the hash is the engine-standard seeded md5-u60 draw
  (:mod:`raster_functions_spark.sampling`), 60 uniform bits;
- ``rho`` (leading-zero rank) is integer-exact via ``length(bin(w))``
  — no float ``log2`` whose last-ulp rounding could disagree across
  libms at ``w = 2^k - 1`` boundaries;
- the register sum ``Σ 2^-rho`` is computed integer-scaled as
  ``Σ 2^(S - rho)`` with ``S = (60 - p) + 1`` — one more than the hash
  word width, because ``rho`` reaches ``60 - p + 1`` when the word is
  all zeros, and the scaled term must stay a non-negative shift (a
  ``2^q`` scale would shift by -1 there: Java wraps it to ``<< 63`` and
  poisons the sum with Long.MIN_VALUE, DuckDB raises) — so it is
  order-independent and exact: max ``Σ`` is ``m·2^S ≤ 2^62``, inside
  int64.

The raw estimate divides a Python-float literal ``alpha_m * m^2 * 2^S``
(emitted identically into the Spark plan and the oracle SQL) by that
integer sum; the standard small-range correction ``m * ln(m / V)``
applies when ``E ≤ 2.5 m`` and empty registers remain. Bias in the
uncorrected mid-range is the published ~1.04/sqrt(m) — the contract
checks *engine parity*, not closeness to truth (pytest checks accuracy
against exact counts separately).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sampling import u60_col, u60_sql

_DEFAULT_SEED = 0x5EED


def _check_p(p: int) -> None:
    # upper bound keeps registers per group modest; lower bound keeps
    # the hash word wide enough that rho saturation is unreachable in
    # any realistic corpus (and m ≥ 128 keeps the estimator's published
    # error regime)
    if not 7 <= p <= 14:
        raise ValueError("p must be in [7, 14]")


def _alpha_num(p: int) -> float:
    """The float literal  alpha_m * m^2 * 2^S  shared by both engines."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    return alpha * m * m * float(1 << (61 - p))


def hll_registers(df: DataFrame, key_col: str, group_cols: list[str],
                  p: int = 8, seed: int = _DEFAULT_SEED,
                  hashes: str = "md5") -> DataFrame:
    """Per-group HLL register vector: ``group_cols + (bucket, rho)``.

    One hash-aggregate shuffle on ``(group, bucket)`` with map-side
    combine — at most ``2^p`` rows per group cross the wire. Null keys
    are ignored (COUNT DISTINCT semantics). Registers from disjoint
    slices merge with :func:`hll_merge` (max is associative), which is
    what makes the sketch storable per partition / per snapshot commit
    and rollup-able without re-reading data.

    ``hashes``: "md5" (default) is the DuckDB-replayable u60 draw;
    "xxhash64" is the fast engine-internal path (same 60-bit word, ~3×
    cheaper map side — the md5 string build dominates CPU at 10^7+
    rows/s; same pattern as the bloom filter's fast mode). Both are
    deterministic and parallelism-independent; only md5 is
    oracle-checkable.
    """
    _check_p(p)
    q = 60 - p
    if hashes == "xxhash64":
        h = F.xxhash64(F.col(key_col), F.lit(seed)).bitwiseAND(
            F.lit((1 << 60) - 1))
    elif hashes == "md5":
        h = u60_col(F.col(key_col), seed)
    else:
        raise ValueError("hashes must be 'md5' or 'xxhash64'")
    w = h.bitwiseAND(F.lit((1 << q) - 1))
    rho = (F.when(w == F.lit(0), F.lit(q + 1))
           .otherwise(F.lit(q + 1) - F.length(F.bin(w))))
    return (df.filter(F.col(key_col).isNotNull())
            .select(*group_cols,
                    F.shiftright(h, q).alias("bucket"),
                    rho.alias("rho"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rho").alias("rho")))


def hll_merge(*registers: DataFrame) -> DataFrame:
    """Merge register tables built with the same (p, seed): union + max."""
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    keys = [c for c in out.columns if c != "rho"]
    return out.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, group_cols: list[str],
                 p: int = 8) -> DataFrame:
    """Registers → per-group cardinality estimate column ``est``."""
    _check_p(p)
    m = 1 << p
    q = 60 - p
    # the PySpark shiftleft wrapper takes a literal bit count only —
    # the SQL form accepts an expression (rho varies per register).
    # scale 2^(q+1), NOT 2^q: rho = q+1 on an all-zero hash word, and a
    # negative shift count would wrap (Java) or raise (DuckDB)
    s_scaled = (F.sum(F.expr(f"shiftleft(1L, {q + 1} - rho)"))
                + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << (q + 1)))
    v = F.lit(m) - F.count(F.lit(1))
    agg = (registers.groupBy(*group_cols)
           .agg(s_scaled.alias("_s"), v.alias("_v")))
    e_raw = F.lit(_alpha_num(p)) / F.col("_s").cast("double")
    est = F.when((e_raw <= F.lit(2.5 * m)) & (F.col("_v") > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("_v"))
                 ).otherwise(e_raw)
    return agg.select(*group_cols, est.alias("est"))


def hll_distinct(df: DataFrame, key_col: str, group_cols: list[str],
                 p: int = 8, seed: int = _DEFAULT_SEED,
                 hashes: str = "md5") -> DataFrame:
    """``approx COUNT(DISTINCT key)`` per group — registers + estimate."""
    return hll_estimate(
        hll_registers(df, key_col, group_cols, p, seed, hashes),
        group_cols, p)


def hll_sql(table: str, key_expr: str, group_expr: str, group_name: str,
            p: int = 8, seed: int = _DEFAULT_SEED,
            round_to: int = 4) -> str:
    """The identical sketch as one DuckDB statement (oracle parity)."""
    _check_p(p)
    m = 1 << p
    q = 60 - p
    u = u60_sql(key_expr, seed, "duckdb")
    a = _alpha_num(p)
    return f"""
WITH hh AS (
  SELECT {group_expr} AS {group_name}, {u} AS h
  FROM {table} WHERE {key_expr} IS NOT NULL
), bw AS (
  SELECT {group_name}, (h >> {q}) AS bucket,
         (h & {(1 << q) - 1}) AS w
  FROM hh
), regs AS (
  SELECT {group_name}, bucket,
         MAX(CASE WHEN w = 0 THEN {q + 1}
             ELSE {q + 1} - length(bin(w)) END) AS rho
  FROM bw GROUP BY {group_name}, bucket
), agg AS (
  SELECT {group_name},
         SUM(1::BIGINT << ({q + 1} - rho))
           + ({m} - COUNT(*)) * ({1 << (q + 1)}::BIGINT) AS s_scaled,
         {m} - COUNT(*) AS v
  FROM regs GROUP BY {group_name}
), est AS (
  SELECT {group_name},
         {a!r} / CAST(s_scaled AS DOUBLE) AS e_raw, v
  FROM agg
)
SELECT {group_name},
       ROUND(CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
             THEN {float(m)!r} * ln({float(m)!r} / v)
             ELSE e_raw END, {round_to}) AS est
FROM est
ORDER BY {group_name}
""".strip()


# --------------------------------------- incremental sketch (snapshot) -----

def hll_commit_batch(table, batch_df: DataFrame, key_col: str,
                     group_cols: list[str], p: int = 8,
                     seed: int = _DEFAULT_SEED, run_id: str | None = None,
                     hashes: str = "md5") -> int:
    """Commit one batch's register vector to a
    :class:`~raster_functions_spark.snapshots.SnapshotTable` — the
    streaming distinct-count shape: per microbatch the sink stores at
    most ``2^p`` rows per group (never keys), the ``run_id`` no-op
    replay makes it exactly-once, and because register merge is
    lossless-associative the read-side estimate equals the one-shot
    build over every row ever committed. Registers land under one
    constant partition ("_pb" = 0): they are metadata-scale, and one
    file per commit avoids the per-value directory blowup."""
    regs = (hll_registers(batch_df, key_col, group_cols, p, seed, hashes)
            .withColumn("_pb", F.lit(0)))
    return table.append(regs, "_pb", run_id=run_id)


def hll_read_distinct(table, group_cols: list[str], p: int = 8,
                      snapshot_id: int | None = None) -> DataFrame:
    """Merged per-group estimate over every committed register batch
    (optionally as of an older snapshot — time travel applies to
    sketches too). Read cost is O(commits × groups × 2^p) register
    rows, independent of the ingested key volume; call
    :func:`hll_rollup_commit` periodically to keep it O(groups × 2^p)
    on an unbounded stream."""
    regs = table.read(snapshot_id=snapshot_id).drop("_pb")
    return hll_estimate(hll_merge(regs), group_cols, p)


def hll_rollup_commit(table, group_cols: list[str],
                      run_id: str | None = None) -> int:
    """Replace the accumulated register batches with their merge — the
    maintenance step that bounds read cost on an infinite stream (the
    merged vector is at most ``groups × 2^p`` rows regardless of how
    many batches were ever committed). One partition-aligned overwrite,
    exactly-once under ``run_id``."""
    merged = hll_merge(table.read().drop("_pb")).withColumn("_pb", F.lit(0))
    return table.overwrite_partitions(merged, values=[0], run_id=run_id)


# ------------------------------------------- mergeable quantile sketch -----

def quantile_registers(df: DataFrame, value_col: str,
                       group_cols: list[str], lo: float, hi: float,
                       bins: int = 256) -> DataFrame:
    """Fixed-range histogram registers — the mergeable quantile sketch
    companion to the HLL: per group at most ``bins`` (bin, cnt) rows
    after the map-side combine, registers from disjoint slices merge by
    plain count addition (:func:`quantile_merge`), so the same
    snapshot-commit / rollup pattern as :func:`hll_commit_batch`
    applies. The value range is a declared parameter (the norm for
    metric pipelines — latencies, scores, sizes have known bounds);
    out-of-range values clamp into the edge bins, nulls are ignored.
    Quantile error is bounded by half a bin width — explicit and
    tunable, unlike rank-sketch bounds that depend on data order."""
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    if not 2 <= bins <= 1 << 16:
        raise ValueError("bins must be in [2, 65536]")
    x = F.col(value_col).cast("double")
    b = F.least(
        F.greatest(F.floor((x - F.lit(float(lo)))
                   / F.lit(float(hi - lo)) * F.lit(float(bins))),
                   F.lit(0)),
        F.lit(bins - 1)).cast("long")
    return (df.filter(x.isNotNull() & ~F.isnan(x))
            .select(*group_cols, b.alias("bin"))
            .groupBy(*group_cols, "bin")
            .agg(F.count(F.lit(1)).alias("cnt")))


def quantile_merge(*registers: DataFrame) -> DataFrame:
    """Merge register tables built with the same (lo, hi, bins)."""
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    keys = [c for c in out.columns if c != "cnt"]
    return out.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def quantile_estimate(registers: DataFrame, group_cols: list[str],
                      qs: list[float], lo: float, hi: float,
                      bins: int = 256) -> DataFrame:
    """Registers → per-group quantile estimates (bin midpoints), one
    column ``p<q*100>`` per requested quantile. Rank rule: the
    ``max(1, ceil(q·total))``-th smallest value's bin — integer-exact,
    identical in the DuckDB replay. The two windows and the final
    aggregate all share the group partitioning (one shuffle)."""
    from pyspark.sql.window import Window
    width = (hi - lo) / bins
    wg = Window.partitionBy(*group_cols)
    wc = (Window.partitionBy(*group_cols).orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, 0))
    work = (registers
            .withColumn("_total", F.sum("cnt").over(wg))
            .withColumn("_cum", F.sum("cnt").over(wc)))
    aggs = []
    for q in qs:
        k = F.greatest(F.lit(1).cast("long"),
                       F.ceil(F.lit(float(q)) * F.col("_total")).cast("long"))
        sel = F.min(F.when(F.col("_cum") >= k, F.col("bin")))
        name = f"p{round(q * 100):02d}"
        aggs.append((F.lit(float(lo))
                     + (sel + F.lit(0.5)) * F.lit(float(width))).alias(name))
    return work.groupBy(*group_cols).agg(*aggs)


def quantile_sketch(df: DataFrame, value_col: str, group_cols: list[str],
                    qs: list[float], lo: float, hi: float,
                    bins: int = 256) -> DataFrame:
    """Registers + estimate in one call."""
    return quantile_estimate(
        quantile_registers(df, value_col, group_cols, lo, hi, bins),
        group_cols, qs, lo, hi, bins)


def quantile_sql(table: str, value_expr: str, group_expr: str,
                 group_name: str, qs: list[float], lo: float, hi: float,
                 bins: int = 256, round_to: int = 6) -> str:
    """DuckDB replay of :func:`quantile_sketch` (same clamp, same rank
    rule, same midpoint arithmetic)."""
    width = (hi - lo) / bins
    cols = []
    for q in qs:
        k = f"GREATEST(1, CAST(CEIL({float(q)!r} * _total) AS BIGINT))"
        sel = f"MIN(CASE WHEN _cum >= {k} THEN bin END)"
        name = f"p{round(q * 100):02d}"
        cols.append(f"ROUND({float(lo)!r} + ({sel} + 0.5) * {float(width)!r},"
                    f" {round_to}) AS {name}")
    return f"""
WITH vals AS (
  SELECT {group_expr} AS {group_name},
         CAST({value_expr} AS DOUBLE) AS x
  FROM {table}
  WHERE {value_expr} IS NOT NULL AND NOT isnan(CAST({value_expr} AS DOUBLE))
), regs AS (
  SELECT {group_name},
         CAST(LEAST(GREATEST(FLOOR((x - {float(lo)!r}) / {float(hi - lo)!r}
              * {float(bins)!r}), 0), {bins - 1}) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM vals GROUP BY 1, 2
), cum AS (
  SELECT {group_name}, bin, cnt,
         SUM(cnt) OVER (PARTITION BY {group_name}) AS _total,
         SUM(cnt) OVER (PARTITION BY {group_name} ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS _cum
  FROM regs
)
SELECT {group_name}, {', '.join(cols)}
FROM cum GROUP BY {group_name} ORDER BY {group_name}
""".strip()


def hll_streaming_sink(table, key_col: str, group_cols: list[str],
                       p: int = 8, seed: int = _DEFAULT_SEED,
                       hashes: str = "md5", rollup_every: int | None = None,
                       run_prefix: str = "hll"):
    """foreachBatch sink maintaining a live distinct-count sketch on the
    shared loop (SnapshotTable.microbatch_sink): one register commit per
    microbatch, exactly-once per ``<run_prefix>-<batch_id>``, plus a
    rollup that rewrites the accumulated registers into one merged
    vector (read cost stays O(groups × 2^p) on an unbounded stream) on
    the loop's cadence — every ``rollup_every`` batches, as the
    contiguous ordinal ``<run_prefix>-rollup-<k>``, so expired rollups
    fold into the retention watermark."""
    from .snapshots import _cadence

    def commit(batch_df: DataFrame, run_id: str, batch_id: int) -> None:
        hll_commit_batch(table, batch_df, key_col, group_cols, p, seed,
                         run_id=run_id, hashes=hashes)
        k = _cadence(batch_id, rollup_every)
        if k:
            hll_rollup_commit(table, group_cols,
                              run_id=f"{run_prefix}-rollup-{k}")
    return table.microbatch_sink(commit, run_prefix)


def start_hll_ingest(table, stream: DataFrame, key_col: str,
                     group_cols: list[str], checkpoint: str,
                     p: int = 8, seed: int = _DEFAULT_SEED,
                     hashes: str = "md5", rollup_every: int | None = None,
                     query_name: str = "hll-ingest",
                     run_prefix: str = "hll"):
    """Wire a stream into a snapshot-backed HLL (availableNow trigger).
    The live estimate at any time is :func:`hll_read_distinct`."""
    return table.start_stream(
        stream, hll_streaming_sink(table, key_col, group_cols, p, seed,
                                   hashes, rollup_every, run_prefix),
        checkpoint, query_name)


# --------------------------------- incremental quantile (snapshot) ---------

def quantile_commit_batch(table, batch_df: DataFrame, value_col: str,
                          group_cols: list[str], lo: float, hi: float,
                          bins: int = 256,
                          run_id: str | None = None) -> int:
    """Commit one batch's quantile registers to a SnapshotTable — the
    exact counterpart of :func:`hll_commit_batch` (registers merge by
    count ADDITION instead of max, so the read side sums instead of
    maxes; everything else — exactly-once run_id, bounded per-batch
    rows, rollup — is the same contract)."""
    regs = (quantile_registers(batch_df, value_col, group_cols, lo, hi,
                               bins).withColumn("_pb", F.lit(0)))
    return table.append(regs, "_pb", run_id=run_id)


def quantile_read(table, group_cols: list[str], qs: list[float],
                  lo: float, hi: float, bins: int = 256,
                  snapshot_id: int | None = None) -> DataFrame:
    """Merged per-group quantile estimates over every committed batch."""
    regs = quantile_merge(table.read(snapshot_id=snapshot_id).drop("_pb"))
    return quantile_estimate(regs, group_cols, qs, lo, hi, bins)


def quantile_rollup_commit(table, run_id: str | None = None) -> int:
    """Replace accumulated register batches with their sum — bounds read
    cost at ``groups × bins`` rows on an unbounded stream."""
    merged = quantile_merge(table.read().drop("_pb")).withColumn(
        "_pb", F.lit(0))
    return table.overwrite_partitions(merged, values=[0], run_id=run_id)
