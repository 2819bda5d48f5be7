"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` registers one entry per implemented operator family from
SURVEY.md §2 (keys prefixed with their SURVEY operator id); ``oracle_sql()``
gives the DuckDB-equivalent SQL for EVERY query — no rows-only
entries. Image-engine queries re-derive their pixels inside the oracle SQL
from the closed-form fixtures (generate_series + arithmetic; see
raster_functions_spark/oracles.py for the builders and the float-parity
rules), so even halo focal ops, flow accumulation, per-pixel SARIMA and
the stateful-streaming sessionizer are checked value-for-value against
DuckDB.

Float outputs are rounded (≥3 decimals, far above the ~1e-12 cross-engine
noise; engine f32 stores are mirrored with CAST .. AS FLOAT before
aggregation); rank/pair/count outputs are integer-only, so cross-engine
hash comparison is stable.
"""

from __future__ import annotations

import functools
import inspect
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from raster_functions_spark import grid


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _reg(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


def _scratch_query(prefix: str, build: Callable[[str], DataFrame]) -> DataFrame:
    """Run ``build(tmp_dir)`` in a fresh temporary directory and return its
    result materialized (eager local checkpoint), so the directory it
    staged files in is removed before anyone reads the rows."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    try:
        return build(tmp).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# =====================================================================
# Relational queries (oracle-checked). Spark side uses spark.sql with
# dialect-portable SQL wherever possible so both engines run near-
# identical text; engine-specific bits are parameterized.
# =====================================================================

def q_a1_pricing_summary(spark, sf_dir):
    """A1 Aggregate: decomposable multi-agg groupBy (TPC-H Q1 shape)."""
    _reg(spark, sf_dir, "lineitem")
    return spark.sql("""
      SELECT l_returnflag, l_linestatus,
             ROUND(SUM(l_quantity), 4) AS sum_qty,
             ROUND(SUM(l_extendedprice), 4) AS sum_base,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
             ROUND(AVG(l_quantity), 6) AS avg_qty,
             COUNT(*) AS n
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")


def q_a4_percentile(spark, sf_dir):
    """A4 LandsatPixelPercentile analog: exact linear-interp percentiles."""
    _reg(spark, sf_dir, "lineitem")
    return spark.sql("""
      SELECT l_returnflag,
             ROUND(percentile(l_extendedprice, 0.25), 6) AS p25,
             ROUND(percentile(l_extendedprice, 0.5), 6) AS p50,
             ROUND(percentile(l_extendedprice, 0.9), 6) AS p90
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")


def q_a7_percent_above(spark, sf_dir):
    """A7 PercentAboveThreshold: ratio of values beyond a threshold."""
    _reg(spark, sf_dir, "events")
    # NB: CAST to DOUBLE — Spark parses the literal 1.0 as DECIMAL(2,1),
    # which truncates the average's precision vs DuckDB
    return spark.sql("""
      SELECT event_type,
             ROUND(AVG(CASE WHEN value >= 150.0 THEN CAST(1 AS DOUBLE)
                            ELSE CAST(0 AS DOUBLE) END) * 100, 6) AS pct,
             COUNT(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type""")


def q_a8_topk_per_group(spark, sf_dir):
    """A8 FindMax/SecondMax/ThirdMax: per-group top-3 with rank.

    r7 physical rewrite (results identical, proof below): the direct
    window runs ONE sort task per o_orderpriority value — 5 groups = 5
    busy cores regardless of cluster size. Stage 1 takes the top-3 of
    each (priority, o_orderkey % salt) slice; stage 2 ranks the ≤
    3·5·salt survivors with the original window. Equivalence: the global
    top-3 of a group is a subset of the union of its salt-slice top-3s
    (any row outside its slice's top-3 has ≥3 rows of its own slice
    ahead of it globally), and (o_totalprice DESC, o_orderkey) is a
    total order (o_orderkey unique), so ranks are unambiguous — holds
    for ANY salt count. salt = 128 × cluster parallelism (not a local
    constant): the same-window A/B at sf1.0 was monotone in salt
    (64→1.68 s, 512→1.36, 4096→1.20, vs 1.61 single-window) because
    smaller slices mean cheaper per-group rank-limit sorts, while the
    survivor count stays bounded by 15·salt independent of table size."""
    _reg(spark, sf_dir, "orders")
    salt = 128 * spark.sparkContext.defaultParallelism
    return spark.sql(f"""
      WITH surv AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority, o_orderkey % {salt}
                                    ORDER BY o_totalprice DESC, o_orderkey) AS srnk
          FROM orders) WHERE srnk <= 3)
      SELECT o_orderpriority, o_orderkey, rnk FROM (
        SELECT o_orderpriority, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM surv) WHERE rnk <= 3
      ORDER BY o_orderpriority, rnk""")


def q_a9_regression(spark, sf_dir):
    """A9 TopographicCCorrection: per-group linear regression (two-pass
    decomposable covariance sums)."""
    _reg(spark, sf_dir, "lineitem")
    return spark.sql("""
      SELECT l_returnflag,
             ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
             COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")


def q_p6_bitmask(spark, sf_dir):
    """P6 LandsatC2QA: bitwise mask predicate groupBy."""
    _reg(spark, sf_dir, "lineitem")
    return spark.sql("""
      SELECT CAST(l_orderkey & 7 AS BIGINT) AS qa_bits, COUNT(*) AS n,
             ROUND(SUM(l_quantity), 4) AS sum_qty
      FROM lineitem WHERE (l_orderkey & 4) > 0
      GROUP BY qa_bits ORDER BY qa_bits""")


def q_p8_time_range(spark, sf_dir):
    """P8 acquisition-date window predicate."""
    _reg(spark, sf_dir, "events")
    return spark.sql("""
      SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_v
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        AND ts <  TIMESTAMP '2024-01-22 00:00:00'
      GROUP BY event_type ORDER BY event_type""")


def q_p9_zonal_interval(spark, sf_dir):
    """P9+J1 ZonalRemap: zone interval probe with null-open ends and
    default target — zones derived deterministically from nation."""
    _reg(spark, sf_dir, "customer", "nation")
    return spark.sql("""
      WITH zones AS (
        SELECT n_nationkey AS zone_id,
               CASE WHEN n_nationkey % 5 = 0 THEN NULL
                    ELSE CAST(n_nationkey * 300 AS DOUBLE) END AS zmin,
               CASE WHEN n_nationkey % 7 = 0 THEN NULL
                    ELSE CAST(n_nationkey * 300 + 4000 AS DOUBLE) END AS zmax,
               CASE WHEN n_nationkey % 4 = 0 THEN NULL
                    ELSE CAST(n_nationkey * 31 % 250 AS DOUBLE) END AS zval
        FROM nation)
      SELECT z.zone_id,
             COUNT(*) AS n,
             ROUND(SUM(CASE WHEN c_acctbal > COALESCE(zmin, -1e308)
                             AND c_acctbal < COALESCE(zmax, 1e308)
                            THEN COALESCE(zval, 255.0) ELSE c_acctbal END), 4) AS sum_remap
      FROM customer c JOIN zones z ON c.c_nationkey = z.zone_id
      GROUP BY z.zone_id ORDER BY z.zone_id""")


def q_j2_rasterize_attrs(spark, sf_dir):
    """J2 RasterizeAttributes: left-outer attribute enrichment + rollup."""
    _reg(spark, sf_dir, "lineitem", "part")
    return spark.sql("""
      SELECT p.p_brand AS brand, COUNT(*) AS n,
             ROUND(AVG(p.p_retailprice), 6) AS avg_attr,
             COUNT(CASE WHEN p.p_size > 25 THEN 1 END) AS n_big
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand ORDER BY brand NULLS FIRST""")


def q_j5_knn(spark, sf_dir):
    """J5 kNN join: exact cosine top-3 neighbors (integer output)."""
    from raster_functions_spark import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5), k=3
    ).orderBy("query_id", "rank")


def q_j8_routing(spark, sf_dir):
    """J8 SelectByPixelSize: conditional source routing."""
    _reg(spark, sf_dir, "orders")
    return spark.sql("""
      SELECT CASE WHEN o_totalprice < 100000 THEN 'low_res' ELSE 'high_res' END AS route,
             COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
      FROM orders GROUP BY 1 ORDER BY route""")


def q_w4_window_rank(spark, sf_dir):
    """W4 RankFilter: sliding-window order stats over an ordered frame."""
    _reg(spark, sf_dir, "events")
    return spark.sql("""
      SELECT event_id,
             ROUND(AVG(value) OVER w, 6) AS win_mean,
             ROUND(MIN(value) OVER w, 6) AS win_min,
             ROUND(MAX(value) OVER w, 6) AS win_max
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      ORDER BY event_id""")


def q_w3_tumbling(spark, sf_dir):
    """W3 BlockStatistics: tumbling (non-overlapping) time blocks."""
    _reg(spark, sf_dir, "events")
    return spark.sql("""
      SELECT date_format(date_trunc('hour', ts), 'yyyy-MM-dd HH:mm:ss') AS hour_block,
             COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_v
      FROM events GROUP BY 1 ORDER BY hour_block""")


def q_u1_union_dedup(spark, sf_dir):
    """U1 MergeRasters: union of overlapping scans, precedence dedup."""
    _reg(spark, sf_dir, "orders")
    return spark.sql("""
      WITH a AS (SELECT o_orderkey, o_totalprice, 1 AS src FROM orders
                 WHERE o_orderkey % 3 = 0),
           b AS (SELECT o_orderkey, o_totalprice, 2 AS src FROM orders
                 WHERE o_orderkey % 2 = 0),
           u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
      SELECT src, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
      FROM (SELECT o_orderkey, o_totalprice, src,
                   ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src) AS rn
            FROM u) WHERE rn = 1
      GROUP BY src ORDER BY src""")


def q_u4_extent_union(spark, sf_dir):
    """U4 stack extent union: bbox-style min/max aggregation per group."""
    _reg(spark, sf_dir, "lineitem")
    return spark.sql("""
      SELECT l_suppkey,
             date_format(MIN(l_shipdate), 'yyyy-MM-dd') AS t_min,
             date_format(MAX(l_shipdate), 'yyyy-MM-dd') AS t_max,
             ROUND(MIN(l_extendedprice), 4) AS v_min,
             ROUND(MAX(l_extendedprice), 4) AS v_max
      FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""")


def q_f10_date_scale(spark, sf_dir):
    """F10 ConvertPerSecondToPerMonth: days-in-month calendar scaling."""
    _reg(spark, sf_dir, "orders")
    return spark.sql("""
      SELECT date_format(date_trunc('month', o_orderdate), 'yyyy-MM') AS month,
             CAST(dayofmonth(last_day(o_orderdate)) AS BIGINT) * 86400 AS month_seconds,
             ROUND(SUM(o_totalprice) / (CAST(dayofmonth(last_day(o_orderdate)) AS BIGINT) * 86400), 6) AS price_per_sec
      FROM orders GROUP BY 1, 2 ORDER BY month""")


def q_f17_json(spark, sf_dir):
    """F17 JSON parameter handling: extract + aggregate."""
    _reg(spark, sf_dir, "events")
    return spark.sql("""
      SELECT CAST(get_json_object(props, '$.k') AS BIGINT) % 10 AS k_mod,
             COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_v
      FROM events GROUP BY 1 ORDER BY k_mod""")


def q_grid_cell_encode(spark, sf_dir):
    """Grid: Z-order cell ids bit-for-bit (pure Column expr vs DuckDB SQL).

    Points synthesized arithmetically from customer keys so both engines
    derive identical doubles."""
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey"),
        ((F.col("c_custkey") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("c_custkey") * 104729 % 17000) / 100.0 - 85.0).alias("lat"))
    cells = pts.select("c_custkey",
                       grid.encode_col(F.col("lon"), F.col("lat"), 9).alias("cell"),
                       grid.parent_col(grid.encode_col(F.col("lon"), F.col("lat"), 9), 9, 4).alias("parent_cell"))
    return cells.orderBy("c_custkey")


def q_spatial_bbox_join(spark, sf_dir):
    """J3 envelope-intersects: bbox containment join.

    Physical rewrite (SURVEY.md O4): instead of the nested-loop theta join
    the oracle runs, each 8°-box explodes into the ≤4 8°-grid buckets it
    touches and points hash-join on their bucket — identical output rows,
    but a shuffle hash join that scales linearly instead of |pts|×|boxes|.

    r7: the grid-cell dedup is per-row ``array_distinct`` on each axis
    instead of a DISTINCT aggregation — equivalent because s_suppkey is
    unique per boxes row, so the global DISTINCT over (key, bx, by)
    equals the per-row distinct(bx) × distinct(by) cross; this removes
    one Exchange + HashAggregate that the broadcast build serialized on
    (same-window A/B at sf1.0: 1.52 → 0.74 s, rows identical).
    (A REPARTITION hint on the points CTE was also tried and REVERTED:
    +0.56 s at sf0.1, wash at sf1.0 — the probe was never the
    bottleneck; the DISTINCT ahead of the broadcast was.)"""
    _reg(spark, sf_dir, "customer", "supplier")
    return spark.sql("""
      WITH pts AS (
        SELECT c_custkey,
               CAST(c_custkey * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS x,
               CAST(c_custkey * 104729 % 17000 AS DOUBLE) / 100.0 - 85.0 AS y
        FROM customer),
      boxes AS (
        SELECT s_suppkey,
               CAST(s_suppkey * 337 % 30000 AS DOUBLE) / 100.0 - 170.0 AS xmin,
               CAST(s_suppkey * 733 % 14000 AS DOUBLE) / 100.0 - 80.0 AS ymin
        FROM supplier),
      box_cells AS (
        SELECT s_suppkey, xmin, ymin, bx, by
        FROM boxes
        LATERAL VIEW explode(array_distinct(array(CAST(FLOOR(xmin / 8.0) AS BIGINT),
                                   CAST(FLOOR((xmin + 8.0) / 8.0) AS BIGINT)))) t1 AS bx
        LATERAL VIEW explode(array_distinct(array(CAST(FLOOR(ymin / 8.0) AS BIGINT),
                                   CAST(FLOOR((ymin + 8.0) / 8.0) AS BIGINT)))) t2 AS by),
      pt_cells AS (
        SELECT c_custkey, x, y,
               CAST(FLOOR(x / 8.0) AS BIGINT) AS bx,
               CAST(FLOOR(y / 8.0) AS BIGINT) AS by
        FROM pts)
      SELECT b.s_suppkey, COUNT(*) AS n_pts,
             CAST(MIN(p.c_custkey) AS BIGINT) AS first_pt
      FROM box_cells b JOIN pt_cells p
        ON p.bx = b.bx AND p.by = b.by
       AND p.x >= b.xmin AND p.x < b.xmin + 8.0
       AND p.y >= b.ymin AND p.y < b.ymin + 8.0
      GROUP BY b.s_suppkey ORDER BY b.s_suppkey""")


def q_dedup_exact(spark, sf_dir):
    """Dedup (exact): content-hash duplicate groups."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    return (dedup.exact_dedup(docs)
            .select("canonical_id", "n_dups")
            .orderBy("canonical_id"))


def q_dedup_minhash_lsh(spark, sf_dir):
    """Dedup (MinHash+LSH): band-bucket candidate pairs at a production
    family size — 64 hashes, 16 bands × 4 rows (S-curve threshold
    (1/16)^(1/4) ≈ 0.50, the standard near-dup operating point). The
    (A_i, B_i) constants come from dedup.minhash_family (8 anchored +
    seeded-splitmix64 extension) and are emitted literally into the
    DuckDB oracle below, so engine/oracle parity holds by construction."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    # r7: minhash_lsh_candidates is fully lazy (no signature cache to
    # release — see its docstring), so the pre-r7 materialize-then-release
    # toPandas round-trip is gone: the pairs never visit the driver.
    return (dedup.minhash_lsh_candidates(docs, n_hashes=64, bands=16)
            .orderBy("id_a", "id_b"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash values, bit-exact vs a pure-SQL oracle: DuckDB's
    md5_number_upper(tok) equals the engine's little-endian first-8-bytes
    token hash, so the whole sign-aggregation replays in SQL (the r2
    'non-SQL-expressible' note is now closed — only the LSH banding
    shares code with the already-oracled phash path)."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("doc_id", dedup.simhash64_udf("text").alias("sh"))
            .orderBy("doc_id"))


def q_dedup_bloom(spark, sf_dir):
    """Dedup (Bloom prefilter): dedupe the incoming src0 batch against the
    rest-of-corpus WITHOUT shuffling the corpus — a Bloom filter built
    from the batch's bag-of-words fingerprints (m=2^16 bits, k=5,
    md5-backed u60 Kirsch-Mitzenmacher hashing) runs as a map-only filter
    inside the corpus scan; only the passing rows (true matches + the
    deterministic false-positive sliver) reach the exact verification
    join. Output: every surviving corpus row with its exact-match verdict.
    The DuckDB oracle replays every bit position, so even the false
    positives match by construction. At production scale the batch-built
    filter broadcasts (10^7 keys → m=2^30 ≈ 128 MiB) while the 10^12-row
    corpus never shuffles."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    key = dedup.bow_fingerprint_col("text").alias("k")
    batch = docs.filter(F.col("source") == "src0").select(key)
    corpus = docs.filter(F.col("source") != "src0").select("doc_id", key)
    words = dedup.bloom_build(batch, "k", 1 << 16, 5)
    surv = (dedup.bloom_might_contain(corpus, "k", words, 5)
            .filter(F.col("bloom_hit")))
    bk = batch.distinct().withColumn("_m", F.lit(True))
    return (surv.join(bk, "k", "left")
            .select("doc_id",
                    F.coalesce("_m", F.lit(False)).alias("is_true_match"))
            .orderBy("doc_id"))


def q_text_pii(spark, sf_dir):
    """Text: PII scrubbing — emails/SSNs/IPv4s/phone numbers are injected
    deterministically from doc_id (the synthetic corpus carries none),
    then counted and replaced by the JVM regexp chain (text.pii_scrub,
    patterns in the Java-regex ∩ RE2 common subset, applied over the
    progressively-scrubbed text). The oracle applies the identical
    pattern list under RE2; per-row md5 of the scrubbed text value-checks
    every replaced span."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    c = F.col("doc_id")
    inj = F.concat(
        F.col("text"),
        F.when(c % 3 == 0, F.concat(
            F.lit(" mail user"), c.cast("string"),
            F.lit("@ex-ample.org now"))).otherwise(F.lit("")),
        F.when(c % 5 == 1, F.concat(
            F.lit(" call 415-555-"),
            F.lpad((c % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(c % 7 == 2, F.concat(
            F.lit(" host 10.0."), (c % 256).cast("string"),
            F.lit(".17 up"))).otherwise(F.lit("")),
        F.when(c % 11 == 3, F.concat(
            F.lit(" ssn 078-05-"),
            F.lpad((c % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
    ).alias("itext")
    return (text.pii_scrub(docs.select("doc_id", inj), "itext")
            .select("doc_id", "n_email", "n_ssn", "n_ipv4", "n_phone",
                    F.md5("scrubbed").alias("scrub_md5"))
            .orderBy("doc_id"))


def q_text_chunks(spark, sf_dir):
    """Text: context-window chunking — every document split into ≤32-token
    chunks with an 8-token overlap (the pre-tokenization step that turns
    a curated corpus into trainable sequences). Pure SQL explode inline
    with the scan (zero UDF, zero shuffle); remainder chunks kept, short
    docs yield themselves. The oracle replays the identical slicing in
    DuckDB list semantics."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    return (text.chunk_tokens(docs, max_tokens=32, overlap=8)
            .orderBy("doc_id", "chunk_idx"))


def q_text_pack(spark, sf_dir):
    """Text: GPT-style sequence packing as an assignment — each doc gets
    (bucket, bin, offset) for fixed-capacity 4096-char training bins,
    rows ordered by a seeded hash draw, packed within 4 independent
    hash-salted streams (production packs per output shard — a single
    global prefix sum would funnel the corpus through one reducer).
    Integer-exact prefix math (DIV, not float). Oracle replays draw,
    bucket, prefix sum, and boundary rule."""
    from raster_functions_spark import sampling
    docs = _t(spark, sf_dir, "documents")
    return (sampling.pack_sequences(docs, "n_chars", 4096, "doc_id",
                                    seed=31, n_buckets=4)
            .select("doc_id", "pack_bucket", "pack_bin", "pack_offset")
            .orderBy("doc_id"))


def q_text_pack_export(spark, sf_dir):
    """Text: MATERIALIZED sequence packing — every fixed-capacity 64-token
    training bin becomes one exported row, straddling documents split
    across bins for real (GPT concat-then-split), with an md5 fingerprint
    of the bin's space-joined token sequence pinning content AND order.
    Bounded explode + one (bucket, bin) shuffle; the oracle replays draw,
    bucket, prefix sum, interval split and in-bin ordering."""
    from raster_functions_spark import sampling
    docs = _t(spark, sf_dir, "documents")
    return (sampling.pack_export(docs, "text", 64, "doc_id",
                                 seed=37, n_buckets=4)
            .orderBy("pack_bucket", "pack_bin"))


def q_text_unigram_ppl(spark, sf_dir):
    """Text: CCNet-style LM quality proxy — per-doc mean negative
    log-likelihood under the corpus's OWN unigram distribution (rare/
    garbled tokens rank high, fluent boilerplate low). Pure relational:
    explode → corpus-wide (tok, count) aggregate → join back → per-doc
    mean; two shuffles, zero UDF. Self-trained, so scores are relative
    ranks — exactly how the filter is applied in curation."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    return text.unigram_nll(docs).orderBy("doc_id")


def q_text_langid(spark, sf_dir):
    """Text: heuristic language-ID vs labeled lang.

    r7: the documents table is one parquet row group, so the scan — and
    with it the 20 marker-count replaces, the only heavy part — ran on a
    single core. Round-robin the narrow projection up to cluster
    parallelism first (size-based rule, no-op at scale); scoring is
    per-row, so results are partitioning-invariant."""
    from raster_functions_spark import text
    from raster_functions_spark.session import ensure_min_parallelism
    docs = ensure_min_parallelism(
        _t(spark, sf_dir, "documents").select("lang", "text"))
    return (text.lang_id_frame(docs, "text")
            .groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))
            .orderBy("lang", "lang_pred"))


def q_text_tokens(spark, sf_dir):
    """Text: BPE-ish pre-token budget per language — letter runs, digit
    runs, single punctuation (the pre-merge split GPT tokenizers use);
    whitespace counts shown alongside for the undercount contrast."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    return (docs
            .select("lang",
                    text.token_count_bpe(F.col("text")).alias("bpe"),
                    text.token_count(F.col("text")).alias("ws"))
            .groupBy("lang")
            .agg(F.count("*").alias("n"),
                 F.sum("bpe").cast("long").alias("sum_bpe"),
                 F.sum("ws").cast("long").alias("sum_ws"))
            .orderBy("lang"))


def q_text_tokens_merged(spark, sf_dir):
    """Text: TRAINED-BPE token budget per language — the committed merge
    table (bpe_vocab.BPE_MERGES, scripts/train_bpe.py) applied per
    pre-token in rank order, Sennrich/GPT-2 semantics, via the vectorized
    pandas-UDF counter (production path). The oracle replays the SAME
    merge table by a different method entirely (delimited replace-chain
    in DuckDB), so the two agree only if the merge semantics match.
    Pre-token estimate alongside for the refinement contrast."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    return (docs
            .select("lang",
                    text.token_count_merged_udf("text").alias("merged"),
                    text.token_count_bpe(F.col("text")).alias("pre"))
            .groupBy("lang")
            .agg(F.count("*").alias("n"),
                 F.sum("merged").cast("long").alias("sum_merged"),
                 F.sum("pre").cast("long").alias("sum_pre"))
            .orderBy("lang"))


def q_text_quality(spark, sf_dir):
    """Text: quality features rollup per source."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    q = text.quality_features(docs)
    return (q.groupBy("source")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
                 F.round(F.avg("punct_ratio"), 6).alias("avg_punct"))
            .orderBy("source"))


def q_text_fingerprint(spark, sf_dir):
    """Text: normalized fingerprint duplicate groups."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy(text.fingerprint(F.col("text")).alias("fp"))
            .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .select("canonical_id", "n").orderBy("canonical_id"))


def q_sim_near_dup_pairs(spark, sf_dir):
    """Similarity: embedding cosine near-dup pairs (integer ids)."""
    from raster_functions_spark import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return (similarity.cosine_near_dup_pairs(emb, threshold=0.4, limit_ids=150)
            .select("id_a", "id_b").orderBy("id_a", "id_b"))


def q_dedup_ingest(spark, sf_dir):
    """Incremental corpus ingestion with dedup — the production
    training-data loop: three crawl batches (source mod 3) ingest in
    order into a snapshot corpus; each batch keeps only rows whose
    normalized content key (md5 of the bag-of-words fingerprint) is
    unseen — within-batch keep-first by doc_id, cross-batch
    first-batch-wins, exactly-once commits, candidates verified against
    ONLY their buckets of the persisted hash index under a Bloom
    prefilter (the committed corpus is never re-read per batch). The
    oracle replays the winner election as one window: min (batch_idx,
    doc_id) per content key."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(dedup.bow_fingerprint_col("text"))
    bidx = F.substring("source", 4, 10).cast("int") % 3

    def build(tmp):
        ing = dedup.DedupIngest(spark, tmp + "/corpus", key=key,
                                m_bits=1 << 18, n_buckets=8)
        for i in range(3):
            ing.ingest(docs.filter(bidx == i), run_id=f"batch-{i}")
        return ing.corpus().select("doc_id", "lang").orderBy("doc_id")
    return _scratch_query("dedup_ingest_", build)


def q_semdedup_corpus(spark, sf_dir):
    """SemDeDup-style embedding-level corpus pruning (Abbas et al. 2023,
    public): cosine near-dup pairs (≥0.4) over the 300 lowest vec_ids →
    connected components (large-star/small-star) → keep the min-id
    representative per semantic cluster → per-label rollup of the kept
    corpus. The oracle replays the n² cosine join, the component pass as
    a recursive CTE, and the keep-canonical election in one statement.
    At scale the pair stage is the LSH-bucketed path (n_bits>0) — the
    brute pairs here exist so the oracle is exhaustive."""
    from raster_functions_spark import dedup, similarity
    emb = _t(spark, sf_dir, "embeddings")
    sub = emb.orderBy("vec_id").limit(300)
    pairs = (similarity.cosine_near_dup_pairs(emb, threshold=0.4,
                                              limit_ids=300)
             .select("id_a", "id_b"))
    kept = dedup.dedup_keep_canonical(sub, pairs, id_col="vec_id")
    return (kept.groupBy("label")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("vec_id").alias("sum_ids"))
            .orderBy("label"))


def q_m5_sarima(spark, sf_dir):
    """A11/M5 SeasonalARIMA: per-group CSS-fit SARIMA (1,0,0)×(1,0,0,24)+c
    over hourly event counts, 24-step forecast. The DuckDB oracle replays
    the IDENTICAL fit in SQL — the OLS covariances expand into
    parameter-free data moments, the coordinate descent runs as a scalar
    recursive CTE and the forecast as a rolling-list recursion
    (oracles.sarima_by_group_sql)."""
    from raster_functions_spark.operators import ml
    _reg(spark, sf_dir, "events")
    hourly = spark.sql("""
      SELECT event_type, date_trunc('hour', ts) AS hb,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2""")
    out = ml.sarima_forecast_by_group(hourly, ["event_type"], "n", "hb",
                                      period=24, horizon=24)
    return (out.select("event_type", F.round("forecast", 4).alias("forecast"),
                       F.round("delta", 4).alias("delta"), "n_obs")
            .orderBy("event_type"))


def q_m5_sarima_px(spark, sf_dir):
    """A11/M5 per-PIXEL SARIMA — the reference's actual shape (one model
    per pixel of the time stack, SeasonalARIMA.py:192-216), fitted for
    EVERY pixel simultaneously by the batch-vectorized CSS solver; delta
    band summed per scene. Oracle: the same fit replayed per pixel via
    the recursive-CTE machinery."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import ml
    from raster_functions_spark.raster import tile_stats
    st = fixtures.stack_images_df(spark, n_scenes=3, n_times=24)
    out = ml.sarima_stack_delta(st, period=12, horizon=6)
    agg = tile_stats(out, [], {"sum_delta": _px_sum},
                     keep_cols=["scene_id", "n_obs"])
    return (agg.select("scene_id", "n_obs",
                       F.round("sum_delta", 3).alias("sum_delta"))
            .orderBy("scene_id"))


def q_sessionize(spark, sf_dir):
    """Sessionization: gap>30min session assignment via lag + cumsum."""
    _reg(spark, sf_dir, "events")
    return spark.sql("""
      WITH g AS (
        SELECT user_id, ts,
               CASE WHEN unix_timestamp(ts) - unix_timestamp(
                      LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                    > 1800 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events)
      SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      FROM g GROUP BY user_id ORDER BY user_id""")


def q_funnel_steps(spark, sf_dir):
    """Event-funnel conversion (view → click → purchase within 24h of
    the first step): per user, the earliest qualifying timestamp of each
    step strictly after the previous one, rolled up to per-step user
    counts and median step latency. Three user-keyed conditional
    min-aggregations chained by equi-joins — the partitioning is reused
    across every stage, and nothing ever fans out beyond one row per
    user per step (no event×event self-join). The SQL is identical in
    DuckDB modulo timestamp extraction."""
    _reg(spark, sf_dir, "events")
    return spark.sql("""
      WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND timestampdiff(MICROSECOND, s1.t1, e.ts) <= 86400000000
        GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND timestampdiff(MICROSECOND, s1.t1, e.ts) <= 86400000000
        GROUP BY e.user_id),
      j AS (
        SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                LEFT JOIN s3 ON s1.user_id = s3.user_id)
      SELECT
        CAST(COUNT(t1) AS BIGINT) AS n_view,
        CAST(COUNT(t2) AS BIGINT) AS n_click,
        CAST(COUNT(t3) AS BIGINT) AS n_purchase,
        CAST(SUM(CASE WHEN t2 IS NOT NULL
                 THEN timestampdiff(MICROSECOND, t1, t2) END)
             AS BIGINT) AS sum_view_to_click_us,
        CAST(SUM(CASE WHEN t3 IS NOT NULL
                 THEN timestampdiff(MICROSECOND, t2, t3) END)
             AS BIGINT) AS sum_click_to_purchase_us
      FROM j""")


def q_stream_sessionize(spark, sf_dir):
    """Custom STATEFUL streaming operator (applyInPandasWithState): gap-
    based sessionization of the events stream, two microbatches so state
    must stitch sessions across batch boundaries. Emits CLOSED sessions;
    the DuckDB oracle computes the same gap-partitioned sessions and drops
    each user's final (still-open) one."""
    import glob
    import os
    from raster_functions_spark.streaming import stateful
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")

    def build(td):
        src = os.path.join(td, "in")
        # two files → two availableNow microbatches (maxFilesPerTrigger=1):
        # sessions spanning the split exercise cross-batch state. The file
        # source orders new files by MODIFICATION TIME — pin distinct
        # mtimes explicitly (two writes usually land within the same
        # second, and a tie would feed the sessionizer out-of-order)
        ev.filter(F.dayofmonth("ts") <= 15).coalesce(1).write.mode("append").parquet(src)
        first = set(glob.glob(src + "/*.parquet"))
        for f in first:
            os.utime(f, (1_000_000, 1_000_000))
        ev.filter(F.dayofmonth("ts") > 15).coalesce(1).write.mode("append").parquet(src)
        for f in set(glob.glob(src + "/*.parquet")) - first:
            os.utime(f, (2_000_000, 2_000_000))
        stream = (spark.readStream.schema("user_id long, ts timestamp")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        sessions = stateful.sessionize_stream(stream, gap_sec=1800,
                                              idle_timeout_sec=None)
        qname = "stream_sessionize_out"
        q = (sessions.writeStream.outputMode("update").format("memory")
             .queryName(qname).option("checkpointLocation", os.path.join(td, "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return (spark.table(qname)
                .select("user_id",
                        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
                        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
                        "n_events")
                .orderBy("user_id", "s_start"))
    return _scratch_query("sess_stream_", build)


def q_stream_windowed(spark, sf_dir):
    """Structured Streaming: availableNow ingest of the events table →
    1-hour tumbling event-time windows (batch-equivalent oracle below)."""
    from raster_functions_spark.streaming.ingest import run_available_now
    schema = _t(spark, sf_dir, "events").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")  # file source needs a dir
              .parquet(sf_dir)
              .withColumn("ts", F.col("ts").cast("timestamp")))
    # complete mode: availableNow emits every window including the last
    # (append mode would hold back windows the watermark never finalizes)
    agg = (stream
           .groupBy(F.window("ts", "1 hour"), "event_type")
           .agg(F.count("*").alias("n")))
    return (run_available_now(agg, "stream_windowed_out")
            .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("hour_block"),
                    "event_type", "n")
            .orderBy("hour_block", "event_type"))


# =====================================================================
# Image-engine queries. Each one regenerates its pixels from the
# deterministic closed-form fixtures, so the DuckDB oracle re-derives
# the same pixels in SQL (raster_functions_spark/oracles.py) — Horn
# gradients as clamped closed-form evaluations, flow accumulation as a
# recursive CTE, composites/zonal/hex rollups as GROUP BYs. Outputs are
# integer sums or ≥4-decimal-rounded floats (float-parity rules in
# oracles.py's module docstring).
# =====================================================================

def _px_sum(px, m):
    import numpy as np
    return float(np.nansum(px.astype(np.float64)))


def q_img_flagship(spark, sf_dir):
    """Flagship: decode → cell-encode → PIP join → tile assign → zonal."""
    from raster_functions_spark import fixtures, pipeline
    images = fixtures.images_df(spark, 1000)
    aoi = fixtures.aoi_df(spark, 25)
    return pipeline.flagship(spark, images, aoi)


def q_img_hillshade(spark, sf_dir):
    """W1 Hillshade via halo exchange → per-tile integer brightness sum."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import focal
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "scene0", 4, 4, 32, dtype="f8")
    hs = focal.apply_focal(dem, focal.hillshade(cellsize=0.001), fmt_out="zlib")
    out = tile_stats(hs, [], {"sum_shade": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.col("sum_shade").cast("long").alias("sum_shade"))
            .orderBy("tx", "ty"))


def q_img_stack_median(spark, sf_dir):
    """A5 QA-masked median composite → per-scene pixel sum (medians of
    integer stacks are exact halves → exact doubles cross-engine)."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import stack
    from raster_functions_spark.raster import tile_stats
    st = fixtures.stack_images_df(spark, n_scenes=4, n_times=12)
    med = stack.stack_composite(st, "median", qa_band=1,
                                clear_values=fixtures.QA_CLEAR_C1)
    return tile_stats(med, [], {"sum_med": _px_sum},
                      keep_cols=["scene_id", "n_rasters"]).orderBy("scene_id")


def q_img_phash_dedup(spark, sf_dir):
    """Image near-dup candidates on the perceptual-hash column (4×16-bit
    band LSH + Hamming verify, all JVM-side)."""
    from raster_functions_spark import dedup, fixtures
    images = fixtures.images_df(spark, 600).select("image_id", "phash")
    return dedup.phash_near_dups(images, max_hamming=10).orderBy("id_a", "id_b")


def q_img_zonal_remap_px(spark, sf_dir):
    """J1 per-pixel ZonalRemap + per-pixel zonal statistics over a
    synthesized zone band (map-side partials + Catalyst final agg)."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import zonal
    from raster_functions_spark.raster import apply_chain
    dem = fixtures.dem_scene_df(spark, "sceneZ", 3, 3, 32, dtype="f8")
    dem = (dem.withColumn("xmin", F.lit(10.0)).withColumn("ymax", F.lit(45.0))
           .withColumn("cell_dy", F.lit(0.001)))
    remapped = apply_chain(
        dem,
        [zonal.zone_band_from_cells(res=15, n_zones=8),
         zonal.zonal_remap(fixtures.zones_pdf(8), value_band=0, zone_band=1),
         zonal.zone_band_from_cells(res=15, n_zones=8)],
        fmt_out="raw", meta_cols=["xmin", "ymax", "cell_dx", "cell_dy"])
    zs = zonal.zonal_statistics_px(remapped, None, value_band=0, zone_band=1)
    return zs.select("zone", "n", F.round("sum", 4).alias("sum_v"),
                     F.round("min", 6).alias("min_v"),
                     F.round("max", 6).alias("max_v")).orderBy("zone")


def q_img_cti(spark, sf_dir):
    """W8 CompoundTopographicIndex: per-scene D8 flow accumulation +
    wetness index, re-tiled; per-tile CTI sum out."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import hydro
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneC", 3, 2, 32, dtype="f8")
    cti = hydro.cti_scene(dem, tile=32)
    out = tile_stats(cti, [], {"sum_cti": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_cti", 6).alias("sum_cti"))
            .orderBy("tx", "ty"))


def q_img_knn_classify(spark, sf_dir):
    """M1 per-pixel kNN classification (from-scratch NumPy, broadcast
    training set) over lossless red/NIR tiles → integer class counts.
    The lossy-DCT tier is excluded: its decode round trip is gated by the
    PSNR pytest suite, not re-derivable in exact SQL."""
    import numpy as np
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import ml
    from raster_functions_spark.raster import tile_stats
    rng_x = np.array([[40.0, 40.0], [200.0, 200.0], [40.0, 200.0]])
    rng_y = np.array([0, 1, 2])
    imgs = (fixtures.images_df(spark, 400)
            .filter((F.col("bands") == 2) & (F.col("fmt") != "dct")))
    cls = tile_stats(imgs, [ml.knn_classifier(rng_x, rng_y, k=1)],
                     {"n_c0": lambda px, m: float((px == 0).sum()),
                      "n_c1": lambda px, m: float((px == 1).sum()),
                      "n_c2": lambda px, m: float((px == 2).sum())},
                     keep_cols=["image_id"])
    return (cls.select("image_id",
                       F.col("n_c0").cast("long").alias("n_c0"),
                       F.col("n_c1").cast("long").alias("n_c1"),
                       F.col("n_c2").cast("long").alias("n_c2"))
            .orderBy("image_id"))


def q_img_chain(spark, sf_dir):
    """RFT-analog chain spec: hillshade (halo) → stretch, per-tile sum."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.plans import chain
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneX", 3, 2, 32, dtype="f8")
    spec = [{"op": "hillshade", "args": {"cellsize": 0.001}},
            {"op": "stretch", "args": {"band": 0, "in_min": 0, "in_max": 255,
                                       "out_min": 0, "out_max": 1}}]
    out = chain.build_chain(dem, spec, fmt_out="raw")
    st = tile_stats(out, [], {"sum_v": _px_sum}, keep_cols=["tx", "ty"])
    return (st.select("tx", "ty", F.round("sum_v", 6).alias("sum_v"))
            .orderBy("tx", "ty"))


def q_img_dnbr(spark, sf_dir):
    """F2 dNBR: two co-registered rasters aligned by tile-key equi-join."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import multiraster as mr
    from raster_functions_spark.raster import tile_stats
    pre = fixtures.stack_images_df(spark, n_scenes=3, n_times=1).drop("t", "acq_month", "acq_days")
    post = fixtures.stack_images_df(spark, n_scenes=3, n_times=2) \
        .filter(F.col("t") == 1).drop("t", "acq_month", "acq_days")
    out = mr.two_raster_op(pre, post, mr.dnbr_fn(), ["scene_id"])
    st = tile_stats(out, [], {"sum_dnbr": _px_sum}, keep_cols=["scene_id"])
    return (st.select("scene_id", F.round("sum_dnbr", 6).alias("sum_dnbr"))
            .orderBy("scene_id"))


def q_img_cloud_fill(spark, sf_dir):
    """J9 StepwiseLocalRadiometricAdjustment shape: 3-way aligned join +
    ring-growing locally-matched gap fill. Oracle: the same public
    ring_fill_np run single-process (the distributed join/agg must
    reproduce it exactly — f32 outputs, so sums are bit-identical)."""
    import numpy as np
    import pandas as pd
    from raster_functions_spark import codec as cd
    from raster_functions_spark.operators import multiraster as mr
    from raster_functions_spark.raster import tile_stats
    rows_t, rows_r, rows_m = [], [], []
    for i in range(4):
        yy, xx = np.mgrid[0:32, 0:32]
        t = (xx * 2.0 + i).astype(np.float32)
        r = (t * 0.7 + 11.0).astype(np.float32)
        m = np.zeros((32, 32), np.uint8); m[8:20, 8:20] = 1
        for rows, px in ((rows_t, t), (rows_r, r), (rows_m, m)):
            rows.append({"scene_id": f"s{i}", "tx": 0, "ty": 0,
                         "bytes": cd.encode(px[None])})
    mk = lambda rows: spark.createDataFrame(pd.DataFrame(rows))
    filled = mr.cloud_fill(mk(rows_t), mk(rows_r), mk(rows_m),
                           ["scene_id", "tx", "ty"])
    return tile_stats(filled, [], {"sum_v": _px_sum},
                      keep_cols=["scene_id"]).orderBy("scene_id")


def q_img_hexbin(spark, sf_dir):
    """A3 HexagonPixels: pixel values aggregated onto a hex grid."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import effects
    dem = fixtures.dem_scene_df(spark, "hx", 2, 2, 32, dtype="f8")
    dem = (dem.withColumn("xmin", F.col("tx") * 0.032 + 10.0)
           .withColumn("ymax", 45.0 - F.col("ty") * 0.032)
           .withColumn("cell_dy", F.lit(0.001)))
    hx = effects.hexagon_pixels(dem, size_deg=0.01)
    return (hx.select("hex_id", F.round("mean", 6).alias("mean"), "n_px")
            .orderBy("hex_id"))


def q_img_pyramid(spark, sf_dir):
    """O5 LoD pyramid: two rollup levels, per-level tile counts + means."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pyramid
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "pyr", 4, 4, 16, dtype="f8")
    levels = pyramid.build_pyramid(dem, 16, 2)
    outs = []
    for li, lv in enumerate(levels):
        st = tile_stats(lv, [], {"tm": lambda px, m: float(
            px.astype("float64").sum() / px.size)},
            keep_cols=["scene_id", "tx", "ty"])
        outs.append(st.groupBy().agg(
            F.lit(li).alias("level"), F.count("*").alias("n_tiles"),
            F.round(F.avg("tm"), 6).alias("mean_px")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("level")


def q_w2_aspect_slope(spark, sf_dir):
    """W2 AspectSlope classification: Horn slope/aspect → 2-digit class
    codes via halo exchange; per-code pixel counts."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import focal, zonal
    dem = fixtures.dem_scene_df(spark, "sceneW", 3, 2, 32, dtype="f8")
    cls = focal.apply_focal(dem, focal.aspect_slope_class(cellsize=0.001),
                            fmt_out="raw")
    zs = zonal.zonal_statistics_px(cls, None, value_band=0, zone_band=0)
    return zs.select("zone", "n").orderBy("zone")


def q_w7_mdhillshade(spark, sf_dir):
    """W7 multidirectional hillshade (6 weighted azimuths) → per-tile
    integer brightness sums."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import focal
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneM", 3, 2, 32, dtype="f8")
    hs = focal.apply_focal(dem, focal.multidirectional_hillshade(cellsize=0.001),
                           fmt_out="zlib")
    out = tile_stats(hs, [], {"sum_shade": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.col("sum_shade").cast("long").alias("sum_shade"))
            .orderBy("tx", "ty"))


def _kind1_lossless(spark, n):
    from raster_functions_spark import fixtures
    return (fixtures.images_df(spark, n)
            .filter((F.col("bands") == 2) & (F.col("fmt") != "dct")))


def q_f4_windchill(spark, sf_dir):
    """F4 NWS windchill over red(°F)/NIR(mph) bands — per-image sums."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 400), [pointwise.windchill()],
                     {"sum_wc": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_wc", 3).alias("sum_wc"))
            .orderBy("image_id"))


def q_f4_windchill_units(spark, sf_dir):
    """F4 windchill with the reference's unit conversions exercised end to
    end: temperature interpreted as Kelvin, wind as m/s, output in °C
    (Windchill.py:101-126). Both the converted-formula branch and the
    pass-through (calm-wind) branch occur in the fixture."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 400),
                     [pointwise.windchill(t_units="k", w_units="m/s",
                                          out_units="c")],
                     {"sum_wc": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_wc", 3).alias("sum_wc"))
            .orderBy("image_id"))


def q_f5_heat_index(spark, sf_dir):
    """F5 Rothfusz heat index (with both NWS adjustments and the strict
    >80 gate) over rescaled red/NIR bands — per-image sums."""
    import numpy as np
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import TileOp, tile_stats

    def rescale(px, meta):
        t = 60.0 + px[0].astype(np.float64) * 0.2          # 60..110 °F
        r = px[1].astype(np.float64) * (100.0 / 240.0)     # 0..100 %RH
        return np.stack([t, r])

    ops = [TileOp("rescale", rescale), pointwise.heat_index()]
    out = tile_stats(_kind1_lossless(spark, 400), ops,
                     {"sum_hi": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_hi", 3).alias("sum_hi"))
            .orderBy("image_id"))


def q_f6_fuzzy_gaussian(spark, sf_dir):
    """F6 FuzzyMembership (gaussian) on the f8 DEM — per-tile sums."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneF", 3, 2, 32, dtype="f8")
    out = tile_stats(dem, [pointwise.fuzzy_membership(
        "gaussian", midpoint=100.0, spread=0.001)],
        {"sum_m": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_m", 5).alias("sum_m"))
            .orderBy("tx", "ty"))


def q_f8_vineyard(spark, sf_dir):
    """F8 VineyardAnalysis threshold-score over kind-2 bands 0/1/2 —
    integer per-image score sums."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    imgs = fixtures.images_df(spark, 400).filter(F.col("bands") == 6)
    out = tile_stats(imgs, [pointwise.vineyard_suitability()],
                     {"sum_score": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.col("sum_score").cast("long").alias("sum_score"))
            .orderBy("image_id"))


def q_f11_unmixing(spark, sf_dir):
    """F11 LinearSpectralUnmixing, 2 endmembers over [red, NIR] (square
    exact solve; oracle uses Cramer's rule) — per-image coefficient sums."""
    import numpy as np
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    sig = np.array([[1.0, 0.2], [0.3, 1.0]])
    out = tile_stats(_kind1_lossless(spark, 400),
                     [pointwise.linear_unmixing(sig, residual_band=False)],
                     {"sum_c0": lambda px, m: float(px[0].astype("float64").sum()),
                      "sum_c1": lambda px, m: float(px[1].astype("float64").sum())},
                     keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_c0", 3).alias("sum_c0"),
                       F.round("sum_c1", 3).alias("sum_c1"))
            .orderBy("image_id"))


def q_f15_cubism(spark, sf_dir):
    """F15 BasicCubism block-mean effect on the f8 DEM — per-tile sums."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import effects
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneB", 2, 2, 32, dtype="f8")
    out = tile_stats(dem, [effects.cubism(block=8)],
                     {"sum_v": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_v", 5).alias("sum_v"))
            .orderBy("tx", "ty"))


def q_a7_percent_above_px(spark, sf_dir):
    """A7 PercentAboveThreshold over the image stack (pixel-side variant
    of the relational a7): decomposable per-tile fractions."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import stack
    st = fixtures.stack_images_df(spark, n_scenes=3, n_times=12)
    out = stack.percent_above_threshold(st, 2000.0, group_cols=["scene_id"])
    return out.select("scene_id", "pct", "n_rasters").orderBy("scene_id")


def q_w4_rank_median_px(spark, sf_dir):
    """W4 RankFilter(median, 3×3) on the image side via halo exchange —
    complements the relational w4_window_rank."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import focal
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneR", 2, 2, 32, dtype="f8")
    rf = focal.apply_focal(dem, focal.rank_filter("median", 3), fmt_out="raw")
    out = tile_stats(rf, [], {"sum_med": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_med", 5).alias("sum_med"))
            .orderBy("tx", "ty"))


def q_f13_calculator(spark, sf_dir):
    """F13 RasterCalculator expression language over [red, nir]."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    op = pointwise.calculator("Sin(a) * Cos(b) + Sqrt(Abs(a - b))",
                              {"a": 0, "b": 1})
    out = tile_stats(_kind1_lossless(spark, 400), [op],
                     {"sum_c": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_c", 3).alias("sum_c"))
            .orderBy("image_id"))


def q_f14_remap(spark, sf_dir):
    """F14 RemapFunction: interval remap on the f8 DEM (integer targets —
    exact sums; sequential interval assignment mirrored by the oracle)."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneRm", 3, 2, 32, dtype="f8")
    op = pointwise.remap([(0.0, 100.0, 1.0), (100.0, 130.0, 2.0),
                          (130.0, 1000.0, 3.0)], default=0.0)
    out = tile_stats(dem, [op], {"sum_r": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.col("sum_r").cast("long").alias("sum_r"))
            .orderBy("tx", "ty"))


def q_f14_vector_field(spark, sf_dir):
    """F14 VectorFieldFunction: (u, v) → magnitude + compass direction."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    import numpy as np
    out = tile_stats(_kind1_lossless(spark, 400), [pointwise.vector_field()],
                     {"sum_mag": lambda px, m: float(px[0].astype(np.float64).sum()),
                      "sum_dir": lambda px, m: float(px[1].astype(np.float64).sum())},
                     keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_mag", 3).alias("sum_mag"),
                       F.round("sum_dir", 3).alias("sum_dir"))
            .orderBy("image_id"))


def q_f3_arith_div(spark, sf_dir):
    """F3 Arithmetic: red/nir band ratio with nan/inf→0 policy."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 400),
                     [pointwise.band_arithmetic("div")],
                     {"sum_q": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_q", 3).alias("sum_q"))
            .orderBy("image_id"))


def q_a6_month_synthesis(spark, sf_dir):
    """A6 Landsat_Image_Synthesis: mean composite of one calendar month's
    acquisitions (time filter + stack mean)."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import stack
    import numpy as np
    st = (fixtures.stack_images_df(spark, n_scenes=3, n_times=24)
          .filter(F.col("acq_month") == 1))
    med = stack.stack_composite(st, "mean")   # no QA mask → all bands kept
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(med, [], {"sum_m": lambda px, m: float(
        px[0].astype(np.float64).sum())},     # band 0 = values (band 1 = QA)
        keep_cols=["scene_id", "n_rasters"])
    return out.orderBy("scene_id")


def q_a10_fuzzy_mssmall(spark, sf_dir):
    """A10 stats-dependent fuzzy (MSSmall): pass 1 computes dataset μ/σ as
    a decomposable aggregate; pass 2 maps the membership with the scalars
    broadcast — the two-pass plan of SURVEY.md A10."""
    import numpy as np
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneS", 3, 2, 32, dtype="f8")
    parts = tile_stats(dem, [], {
        "s1": _px_sum,
        "s2": lambda px, m: float((px.astype(np.float64) ** 2).sum()),
        "n": lambda px, m: float(px.size)}, keep_cols=["tx", "ty"])
    tot = parts.agg(F.sum("s1").alias("s1"), F.sum("s2").alias("s2"),
                    F.sum("n").alias("n")).first()
    mu = tot["s1"] / tot["n"]
    sd = float(np.sqrt(tot["s2"] / tot["n"] - mu * mu))
    out = tile_stats(dem, [pointwise.fuzzy_membership(
        "mssmall", mean=mu, std=sd, spread=2.0)],
        {"sum_m": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_m", 5).alias("sum_m"))
            .orderBy("tx", "ty"))


def q_j6_nearest_labels(spark, sf_dir):
    """J6/J7 NearestNeighbors: the k=2 nearest training labels per pixel
    as bands (exact integer distances, stable tie-break)."""
    import numpy as np
    from raster_functions_spark.operators import ml
    from raster_functions_spark.raster import tile_stats
    tX = np.array([[40.0, 40.0], [200.0, 200.0], [40.0, 200.0], [200.0, 40.0]])
    ty = np.array([1.0, 2.0, 3.0, 4.0])
    out = tile_stats(_kind1_lossless(spark, 400),
                     [ml.nearest_neighbors(tX, ty, k=2)],
                     {"sum_b0": lambda px, m: float(px[0].astype(np.float64).sum()),
                      "sum_b1": lambda px, m: float(px[1].astype(np.float64).sum())},
                     keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_b0", 1).alias("sum_b0"),
                       F.round("sum_b1", 1).alias("sum_b1"))
            .orderBy("image_id"))


def q_m3_random_forest(spark, sf_dir):
    """M3 per-pixel RandomForest classification (from-scratch bagged CART,
    RandomForestClassifier.py:92-111 band layout: class, p1, p2) over
    lossless red/NIR tiles — class counts + p(best) sums, verified against
    a single-process replay of the deterministic model."""
    import numpy as np
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import ml
    from raster_functions_spark.raster import tile_stats
    tX, ty = fixtures.ml_training_set()
    out = tile_stats(_kind1_lossless(spark, 400),
                     [ml.random_forest_classifier(tX, ty, n_trees=8, max_depth=4)],
                     {"n_c0": lambda px, m: float((px[0] == 0).sum()),
                      "n_c1": lambda px, m: float((px[0] == 1).sum()),
                      "n_c2": lambda px, m: float((px[0] == 2).sum()),
                      "sum_p1": lambda px, m: float(px[1].astype(np.float64).sum())},
                     keep_cols=["image_id"])
    return (out.select("image_id",
                       F.col("n_c0").cast("long").alias("n_c0"),
                       F.col("n_c1").cast("long").alias("n_c1"),
                       F.col("n_c2").cast("long").alias("n_c2"),
                       F.round("sum_p1", 3).alias("sum_p1"))
            .orderBy("image_id"))


def q_m4_gbt(spark, sf_dir):
    """M4 per-pixel gradient-boosted classification (from-scratch logit
    boosting, GradientBoostedClassifier.py:95-112 capability) — binary
    class counts + probability sums vs the single-process replay."""
    import numpy as np
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import ml
    from raster_functions_spark.raster import tile_stats
    tX, ty = fixtures.ml_training_set(centroids=((40.0, 40.0), (200.0, 200.0)))
    out = tile_stats(_kind1_lossless(spark, 400),
                     [ml.gradient_boosted_classifier(tX, ty, n_rounds=15)],
                     {"n_c0": lambda px, m: float((px[0] == 0).sum()),
                      "n_c1": lambda px, m: float((px[0] == 1).sum()),
                      "sum_p": lambda px, m: float(px[1].astype(np.float64).sum())},
                     keep_cols=["image_id"])
    return (out.select("image_id",
                       F.col("n_c0").cast("long").alias("n_c0"),
                       F.col("n_c1").cast("long").alias("n_c1"),
                       F.round("sum_p", 3).alias("sum_p"))
            .orderBy("image_id"))


def q_f15_chuck_close(spark, sf_dir):
    """F15 BasicChuckClose: tile block means quantized to 4 gray levels."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import effects
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneCC", 2, 2, 32, dtype="f8")
    out = tile_stats(dem, [effects.chuck_close(block=8, levels=4)],
                     {"sum_v": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_v", 5).alias("sum_v"))
            .orderBy("tx", "ty"))


def q_p3_mask_apply(spark, sf_dir):
    """P3 MaskRaster: keep value where the mask band > 0, else NoData."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 400),
                     [pointwise.mask_apply(value_band=0, mask_band=1, nodata=0)],
                     {"sum_v": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.col("sum_v").cast("long").alias("sum_v"))
            .orderBy("image_id"))


def q_p4_replace_nulls(spark, sf_dir):
    """P4 ReplaceNulls: substitute the 0 sentinel with 255 on the kind-3
    ramps (embedded NoData zeros) — integer-exact."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    imgs = (fixtures.images_df(spark, 400)
            .filter((F.col("bands") == 1) & (F.col("dtype") == "u1")
                    & (F.col("fmt") != "dct")))
    out = tile_stats(imgs, [pointwise.replace_value(0, 255)],
                     {"sum_v": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.col("sum_v").cast("long").alias("sum_v"))
            .orderBy("image_id"))


def q_s6_latitude(spark, sf_dir):
    """S6 Latitude source: per-pixel map latitude from tile georeference."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneL", 2, 2, 32, dtype="f8")
    dem = (dem.withColumn("ymax", 45.0 - F.col("ty") * 0.032)
           .withColumn("ymin", F.col("ymax") - 0.032))
    out = tile_stats(dem, [pointwise.latitude_source()],
                     {"sum_lat": _px_sum},
                     meta_cols=["ymax", "ymin", "cell_dy"],
                     keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_lat", 4).alias("sum_lat"))
            .orderBy("tx", "ty"))


def q_s7_catalog(spark, sf_dir):
    """S7 catalog crawl: header-only metadata peek over the binary image
    column (no pixel decode), rolled up per format/shape."""
    from raster_functions_spark import fixtures, raster
    imgs = fixtures.images_df(spark, 400).select("image_id", "bytes")
    cat = raster.catalog(imgs).select("hdr.*")
    return (cat.groupBy("fmt", "dtype", "bands", "h", "w")
            .agg(F.count("*").alias("n"))
            .orderBy("fmt", "dtype", "bands", "h", "w"))


def q_p7_qa_clear(spark, sf_dir):
    """P7 clear-pixel whitelist: QA band ∈ the C1 clear set → per-image
    clear-pixel counts (integer-exact)."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    imgs = fixtures.images_df(spark, 400).filter(F.col("bands") == 6)
    out = tile_stats(imgs, [pointwise.qa_clear(5, fixtures.QA_CLEAR_C1)],
                     {"n_clear": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.col("n_clear").cast("long").alias("n_clear"))
            .orderBy("image_id"))


def q_mm_resize(spark, sf_dir):
    """Multimodal resize: box-resample 32×32 tiles to 8×8 (bin means) —
    the ingest-pipeline resize step, no external imaging library."""
    from raster_functions_spark import fixtures, multimodal
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneRz", 2, 2, 32, dtype="f8")
    rs = multimodal.resize_tiles(dem, 8, 8, fmt_out="raw")
    out = tile_stats(rs, [], {"sum_v": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_v", 5).alias("sum_v"))
            .orderBy("tx", "ty"))


def q_mm_augment(spark, sf_dir):
    """Multimodal augmentation: seeded deterministic random-crop (32→16)
    + h/v flips per tile, every decision one md5-u60 draw the DuckDB
    oracle replays — no RNG to disagree on, re-runs reproduce old
    augmentations exactly (training-data reproducibility). One fused
    mapInPandas, map-only."""
    from raster_functions_spark import fixtures, multimodal
    from raster_functions_spark.raster import tile_stats
    dem = fixtures.dem_scene_df(spark, "sceneAug", 2, 2, 32, dtype="f8")
    aug = multimodal.augment_tiles(dem, 16, 16, fmt_out="raw")
    out = tile_stats(aug, [], {"sum_v": _px_sum}, keep_cols=["tx", "ty"])
    return (out.select("tx", "ty", F.round("sum_v", 5).alias("sum_v"))
            .orderBy("tx", "ty"))


def q_geo_area_centroid(spark, sf_dir):
    """Vector polygon analytics: shoelace area + area-weighted centroid
    per AOI ring — pure JVM expression per row, zero shuffle. The oracle
    receives the fixture rings as literal INPUTS and re-derives the math
    independently in DuckDB (wrap-around closure, signed-area centroid,
    zero-area → NULL)."""
    from raster_functions_spark import fixtures, spatial
    aoi = fixtures.aoi_df(spark, 40)
    out = spatial.polygon_area_centroid(aoi)
    return (out.select("aoi_id", F.round("area", 6).alias("area"),
                       F.round("cx", 6).alias("cx"),
                       F.round("cy", 6).alias("cy"))
            .orderBy("aoi_id"))


def q_geo_radius_join(spark, sf_dir):
    """Geodesic radius self-join: all point pairs within a 0.03 rad
    (~191 km) central angle, over deterministic lat/lon derived from
    event ids. The engine buckets points into a provably-enclosing
    lat/lon grid (antimeridian wrap via pmod) and equi-joins neighbor
    cells — candidate volume is per-cell density, never n²; the DuckDB
    oracle brute-forces the same points with an independent lat-band
    prefilter, so a dropped seam/edge pair cannot hide."""
    from raster_functions_spark import spatial
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lat, lon = spatial.lonlat_cols(F.col("event_id"))
    pts = (ev.filter(F.col("event_id") % 5 == 0)
           .select(F.col("event_id").alias("id"),
                   lat.alias("lat"), lon.alias("lon")))
    out = spatial.radius_join(pts, 0.03, max_abs_lat=60.0)
    return (out.select("id_a", "id_b",
                       F.round("sigma_rad", 9).alias("sigma_rad"))
            .orderBy("id_a", "id_b"))


def q_geo_track_stats(spark, sf_dir):
    """Per-user trajectory statistics (point count, great-circle path
    length in radians, bounding box) over events ordered by (ts,
    event_id) — one shuffle: the lag window and the aggregate share the
    user_id partitioning. The oracle replays the window math in DuckDB."""
    from raster_functions_spark import spatial
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lat, lon = spatial.lonlat_cols(F.col("event_id"))
    pts = ev.select("user_id", "ts", "event_id",
                    lat.alias("lat"), lon.alias("lon"))
    out = spatial.track_stats(pts, "user_id", ["ts", "event_id"])
    return (out.select("user_id", "n_points",
                       F.round("path_rad", 6).alias("path_rad"),
                       F.round("lat_min", 9).alias("lat_min"),
                       F.round("lat_max", 9).alias("lat_max"),
                       F.round("lon_min", 9).alias("lon_min"),
                       F.round("lon_max", 9).alias("lon_max"))
            .orderBy("user_id"))


def q_dedup_url(spark, sf_dir):
    """URL-level crawl dedup: canonicalize deterministic messy URLs
    (scheme/case/www/trailing-slash/utm-param/fragment variance) with a
    pure JVM regexp chain and group by canonical form — one hash-agg
    shuffle on the canonical key, the standard first pass before any
    content dedup. The oracle replays the identical chain in DuckDB
    (RE2 ∩ Java-regex patterns only)."""
    from raster_functions_spark import oracles, text
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url = F.expr(oracles.synth_url_sql("doc_id", "spark"))
    return (d.select("doc_id", text.canonical_url(url).alias("canon_url"))
            .groupBy("canon_url")
            .agg(F.count(F.lit(1)).alias("n_variants"),
                 F.min("doc_id").alias("min_doc"))
            .orderBy("canon_url"))


def q_text_ppl_bucket(spark, sf_dir):
    """CCNet-style quality bucketing: per-language head/middle/tail cut
    by unigram-NLL rank thirds (integer math, deterministic tie-break)
    — the curation step between LM scoring and mixture sampling. Window
    input is the narrow (lang, nll, id) projection only."""
    from raster_functions_spark import text
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = text.ppl_buckets(d)
    return out.orderBy("lang", "bucket")


def q_mm_patches(spark, sf_dir):
    """Multimodal ViT patch extraction: split 32×32 f8 DEM tiles into the
    8×8 non-overlapping patch grid (one row per patch) with the sequence
    index and a flatten-order checksum — the DuckDB oracle re-derives
    position, content sum and the row-major flatten weighting in closed
    form, so the contract pins the exact embedding-input ordering. One
    fused mapInPandas, map-only fan-out."""
    from raster_functions_spark import fixtures, multimodal
    dem = fixtures.dem_scene_df(spark, "scenePt", 2, 2, 32, dtype="f8")
    pt = multimodal.patchify_tiles(dem, 8, 8)
    return (pt.select("tx", "ty", "pr", "pc", "seq",
                      F.round("psum", 5).alias("psum"),
                      F.round("pchk", 5).alias("pchk"))
            .orderBy("tx", "ty", "seq"))


def q_sketch_hll(spark, sf_dir):
    """Mergeable HyperLogLog cardinality sketch (Flajolet 2007): distinct
    users per day (DAU — small range, exercises the linear-counting
    correction) and distinct events per type (raw-estimate branch), both
    from 2^8-register vectors that map-side combine — at most 256 rows
    per group ever shuffle, regardless of input size. Deterministic
    md5-u60 hash + integer-exact rho + integer-scaled register sum, so
    the DuckDB oracle replays the estimate bit-for-bit (no float-log2 or
    sum-order hazards)."""
    from raster_functions_spark import sketches
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dau = sketches.hll_distinct(
        ev.withColumn("grp", F.concat(F.lit("dau:"), F.date_format(
            F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"))),
        "user_id", ["grp"], p=8)
    per_type = sketches.hll_distinct(
        ev.withColumn("grp", F.concat(F.lit("events:"), F.col("event_type"))),
        "event_id", ["grp"], p=8)
    return (dau.unionByName(per_type)
            .select("grp", F.round("est", 4).alias("est"))
            .orderBy("grp"))


def q_sketch_quantile_stream(spark, sf_dir):
    """Incremental quantile sketch over the snapshot table: three event
    batches commit their histogram registers exactly-once, a rollup
    rewrites them into one summed vector, a replayed run_id no-ops —
    and because count addition is lossless the read-side p50/p95/p99
    must equal DuckDB's one-shot sketch over ALL events."""
    from raster_functions_spark import sketches
    from raster_functions_spark.snapshots import SnapshotTable
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("grp", F.col("event_type")))

    def build(td):
        t = SnapshotTable(spark, td + "/regs")
        for b in range(2):
            sketches.quantile_commit_batch(
                t, ev.filter(F.col("event_id") % 3 == b), "value", ["grp"],
                lo=0.0, hi=500.0, bins=256, run_id=f"batch-{b}")
        sketches.quantile_rollup_commit(t, run_id="rollup-1")
        sketches.quantile_commit_batch(
            t, ev.filter(F.col("event_id") % 3 == 2), "value", ["grp"],
            lo=0.0, hi=500.0, bins=256, run_id="batch-2")
        sketches.quantile_commit_batch(  # replay must no-op
            t, ev.filter(F.col("event_id") % 3 == 1), "value", ["grp"],
            lo=0.0, hi=500.0, bins=256, run_id="batch-1")
        return (sketches.quantile_read(t, ["grp"], [0.5, 0.95, 0.99],
                                       lo=0.0, hi=500.0, bins=256)
                .select("grp", *[F.round(c, 6).alias(c)
                                 for c in ("p50", "p95", "p99")])
                .orderBy("grp"))
    return _scratch_query("q_stream_", build)


def q_geo_compact_cover(spark, sf_dir):
    """H3/S2-style compact(): the minimal mixed-resolution cell set whose
    res-9 descendants exactly tile a bbox cover — what an index-metadata
    layer stores per AOI (O(perimeter) cells, not O(area)). One
    mapInPandas compacts the cover rectangle as one column run per row,
    level by level (full and parent not full, no iteration over cells);
    the oracle re-derives the cover rectangle from the bbox literals and
    replays the closed-form containment tests per resolution. pytest
    separately proves closed form == iterated complete-sibling-group
    merging."""
    from raster_functions_spark import grid
    out = grid.compact_cover_df(spark, -10.0, -5.0, 25.0, 30.0, 9)
    return out.select("cell", "res").orderBy("cell")


def q_text_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS, SIGMOD 2003) rolled up per document:
    hash word 3-grams in position order, select each 4-window's
    rightmost minimum — local fingerprints guaranteeing any shared run
    of ≥ 6 words is caught, at ~2/(w+1) the density of full shingling.
    Bounded w-fold fan-out + doc-keyed aggregations only; the checksum
    columns pin the selected hashes AND positions."""
    from raster_functions_spark import text
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = text.winnow_fingerprints(d)
    return (fps.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_fp"),
                 F.sum(F.pmod(F.col("h"), F.lit(2147483647))).alias("fp_sum"),
                 F.sum("pos").alias("pos_sum"))
            .orderBy("doc_id"))


def q_sample_mix_temperature(spark, sf_dir):
    """Temperature-scaled domain mixture (w_d ∝ p_d^τ, τ=0.7 — the
    multilingual/multi-domain LM sampling recipe): per source domain its
    corpus share, renormalized temperature weight, and allocation at a
    1M-token budget. One domain-keyed aggregation; the window runs over
    |domains| aggregate rows, never the corpus."""
    from raster_functions_spark import sampling
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sampling.mixture_weights(d, "source", "n_chars", tau=0.7,
                                   budget=1_000_000)
    return (out.select("domain", "n_weight",
                       F.round("p", 6).alias("p"),
                       F.round("w", 6).alias("w"),
                       F.round("alloc", 6).alias("alloc"))
            .orderBy("domain"))


def q_mm_shards(spark, sf_dir):
    """Training-shard export manifest: 120 image+caption samples packed
    into ~64 KiB WebDataset-style tar shards (from-scratch deterministic
    ustar). Membership is the seeded pack assignment (salted streams, no
    global window); one (bucket, bin) shuffle moves each image's bytes
    exactly once. The oracle replays packing + manifest (names_md5 pins
    member ORDER); the tar bytes themselves are pinned by the stdlib
    tarfile roundtrip in pytest."""
    from raster_functions_spark import fixtures, multimodal
    imgs = fixtures.images_df(spark, 120)
    out = multimodal.export_shards(imgs, capacity_bytes=1 << 16)
    return (out.select("pack_bucket", "pack_bin", "n_items",
                       "payload_bytes", "names_md5")
            .orderBy("pack_bucket", "pack_bin"))


def q_dedup_winnow_pairs(spark, sf_dir):
    """Winnowing-based near-duplicate pairs: docs sharing ≥ 2 distinct
    selected fingerprints (any shared ≥ 6-word run guarantees one). Stop
    fingerprints (boilerplate phrases in > 50 docs) are dropped BEFORE
    the hash equi-join — the MOSS index trick that bounds candidate
    volume to Σ df(h)² over rare hashes; everything else is hash-keyed
    aggregation."""
    from raster_functions_spark import text
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.winnow_pairs(d).orderBy("id_a", "id_b")


def q_geo_knn(spark, sf_dir):
    """Exact geodesic kNN self-join (k=3) over deterministic lat/lon:
    grid-phase candidates (9-neighbor-cell join at theta0=0.12 rad) are
    provably the true top-k when the k-th distance is within the grid
    guarantee; sparse-region stragglers fall back to a broadcast
    partial-top-k mapInPandas (the j5_knn pattern — n_unsat × k rows per
    batch, never a cross product). The DuckDB oracle brute-forces the
    same points with an independent lat-band necessary condition and a
    loud band-violation sentinel."""
    from raster_functions_spark import spatial
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lat, lon = spatial.lonlat_cols(F.col("event_id"))
    pts = (ev.filter(F.col("event_id") % 7 == 0)
           .select(F.col("event_id").alias("id"),
                   lat.alias("lat"), lon.alias("lon")))
    out = spatial.knn_geo(pts, k=3, theta0=0.12, max_abs_lat=60.0)
    return (out.select("id", "rank", "nbr",
                       F.round("sigma_rad", 9).alias("sigma_rad"))
            .orderBy("id", "rank"))


def q_text_vocab(spark, sf_dir):
    """Per-language vocabulary heavy hitters (tokenizer-training /
    keyword-extraction input): token frequency + document frequency +
    smoothed IDF for the top 15 tokens per language, ties broken by
    token. One explode → one (lang, token) hash agg computing tf and df
    together, a broadcast doc-count join, and a top-n window over the
    VOCABULARY, never the corpus."""
    from raster_functions_spark import text
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = text.vocab_top_tokens(d, top_n=15)
    return (out.select("lang", "rank", "token", "tf", "df",
                       F.round("idf", 6).alias("idf"))
            .orderBy("lang", "rank"))


def q_sketch_quantile(spark, sf_dir):
    """Mergeable fixed-range histogram quantile sketch: p50/p95/p99 of
    event value per type from 256-bin registers — at most 256 rows per
    group shuffle (map-side combined), registers merge by count
    addition (same snapshot/rollup pattern as the HLL), error bounded
    by half a bin width. Rank rule max(1, ceil(q·total)) is
    integer-exact in both engines."""
    from raster_functions_spark import sketches
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sketches.quantile_sketch(
        ev.withColumnRenamed("event_type", "grp"), "value", ["grp"],
        [0.5, 0.95, 0.99], lo=0.0, hi=500.0, bins=256)
    return (out.select("grp", *[F.round(c, 6).alias(c)
                                for c in ("p50", "p95", "p99")])
            .orderBy("grp"))


def q_geo_polyfill(spark, sf_dir):
    """H3/S2-style polyfill + compact over three fixture AOI polygons at
    res 11: cells whose center passes the even-odd PIP, as scanline
    column runs per cell row, compacted to the minimal mixed-resolution
    set (emit fulls with non-full parents, level by level over the runs)
    — one mapInPandas, no shuffle. The oracle re-derives the rings in
    SQL and replays membership per cell plus the count closed form
    (ancestor full ⟺ 4^(res−r) kept descendants) independently."""
    from raster_functions_spark import fixtures, spatial
    rings = [(k, *fixtures.aoi_ring(k)) for k in (0, 1, 2)]
    out = spatial.polyfill_compact(spark, rings, 11)
    return out.select("aoi_id", "cell", "res").orderBy("aoi_id", "cell")


def q_sketch_hll_stream(spark, sf_dir):
    """Incremental HLL over the snapshot table — the streaming
    distinct-count shape: three event batches commit their register
    vectors exactly-once (a replayed run_id no-ops), a register ROLLUP
    between batches rewrites history into one merged vector (bounding
    read cost on an unbounded stream), and the read-side estimate is
    checked against DuckDB's one-shot sketch over ALL events — register
    merge is lossless-associative, so incremental must equal batch
    exactly."""
    from raster_functions_spark import sketches
    from raster_functions_spark.snapshots import SnapshotTable
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .withColumn("grp", F.col("event_type")))

    def build(td):
        t = SnapshotTable(spark, td + "/regs")
        for b in range(2):
            sketches.hll_commit_batch(t, ev.filter(F.col("event_id") % 3 == b),
                                      "user_id", ["grp"], p=8,
                                      run_id=f"batch-{b}")
        sketches.hll_rollup_commit(t, ["grp"], run_id="rollup-1")
        sketches.hll_commit_batch(t, ev.filter(F.col("event_id") % 3 == 2),
                                  "user_id", ["grp"], p=8, run_id="batch-2")
        # replay of an already-committed batch must be a no-op
        sketches.hll_commit_batch(t, ev.filter(F.col("event_id") % 3 == 1),
                                  "user_id", ["grp"], p=8, run_id="batch-1")
        return (sketches.hll_read_distinct(t, ["grp"], p=8)
                .select("grp", F.round("est", 4).alias("est"))
                .orderBy("grp"))
    return _scratch_query("hll_stream_", build)


def q_mm_decode_png(spark, sf_dir):
    """Multimodal PNG ingest: a binary column of real PNG payloads (filter
    types 0-4 cycling) decoded by the from-scratch decoder (formats.py:
    stdlib zlib + the five scanline unfilters) — exact integer pixel sums
    checked against the DuckDB closed form (lossless ⇒ no embedded goldens)."""
    from raster_functions_spark import fixtures, multimodal
    imgs = fixtures.png_images_df(spark, 40)
    return (multimodal.decode_metrics(imgs, keep_cols=("image_id",))
            .orderBy("image_id"))


def q_mm_decode_jpeg(spark, sf_dir):
    """Multimodal JPEG ingest: baseline JPEG payloads (gray + RGB, 4:4:4 +
    4:2:0, restart intervals) decoded by the from-scratch huffman+IDCT
    decoder (jpeg.py), verified against single-process replay goldens."""
    from raster_functions_spark import fixtures, multimodal
    imgs = fixtures.jpeg_images_df(spark, 40)
    return (multimodal.decode_metrics(imgs, keep_cols=("image_id",))
            .orderBy("image_id"))


def q_mm_catalog(spark, sf_dir):
    """Catalog crawl over a mixed-format crawl dump (PNG/JPEG/BMP/engine
    container cycling per row): header-only metadata peek — PNG IDAT never
    inflated, JPEG entropy never touched — rolled up per format/shape.
    The oracle re-derives the expected inventory from the fixture design's
    closed form (formats, band counts and dims are pure functions of i)."""
    from raster_functions_spark import fixtures, multimodal
    imgs = fixtures.mixed_images_df(spark, 80)
    cat = multimodal.image_catalog(imgs)
    return (cat.groupBy("fmt", "bands", "h", "w")
            .agg(F.count("*").alias("n"))
            .orderBy("fmt", "bands"))


def q_mm_quarantine(spark, sf_dir):
    """Crawl hardening: decode a mixed-format dump where every 7th payload
    is bit-rotted (truncated body, intact magic) with quarantine semantics
    — corrupt rows come back ok=false with sentinel metrics instead of
    killing tasks; good rows keep exact pixel sums. Oracle replays the
    identical payload builder single-process."""
    from raster_functions_spark import fixtures, multimodal
    imgs = fixtures.mixed_images_df(spark, 84, corrupt_every=7)
    out = multimodal.decode_metrics(imgs, on_error="quarantine")
    return (out.groupBy("ok")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(F.col("ok"), F.col("px_sum"))).alias("sum_ok"))
            .orderBy("ok"))


def q_mm_ingest_rollup(spark, sf_dir):
    """The end-to-end CRAWL INGEST pipeline in one contract: mixed-format
    payloads (PNG incl. Adam7, JPEG incl. progressive, BMP, container;
    every 7th bit-rotted) → from-scratch decode with quarantine →
    closed-form georeference → Z-order cell encode (pure Column expr) —
    every row accounted for with exact pixel sums and bit-exact cells."""
    from raster_functions_spark import fixtures, grid, multimodal
    imgs = fixtures.mixed_images_df(spark, 84, corrupt_every=7)
    m = multimodal.decode_metrics(imgs, on_error="quarantine")
    i = F.substring("image_id", 4, 5).cast("long")
    lon = (i * 7919 % 360).cast("double") - 180.0 + 0.5
    lat = (i * 104729 % 170).cast("double") - 85.0 + 0.5
    return (m.withColumn("cell", grid.encode_col(lon, lat, 6))
            .select("image_id", "ok", "cell", "px_sum")
            .orderBy("image_id"))


def q_snap_incremental(spark, sf_dir):
    """Iceberg-like snapshot table (snapshots.SnapshotTable): two appends +
    one partition-aligned overwrite on a fresh table, then the CURRENT
    state and the INCREMENTAL scan since snapshot 1 — both aggregated per
    partition. The oracle re-derives every row set from the closed-form
    generators, so wrong file pruning (stale files read, added files
    missed, replaced files surviving) breaks counts or sums."""
    from raster_functions_spark.snapshots import SnapshotTable

    def batch(lo, hi, pexpr):
        return (spark.range(lo, hi).withColumnRenamed("id", "image_id")
                .withColumn("p_cell", pexpr)
                .withColumn("v", (F.col("image_id") * 3).cast("long")))

    def build(td):
        t = SnapshotTable(spark, td + "/t")
        t.append(batch(0, 100, F.col("image_id") % 4), "p_cell")
        t.append(batch(100, 150, F.col("image_id") % 4), "p_cell")
        t.overwrite_partitions(batch(200, 220, F.lit(1)), values=[1])

        def agg(df, src):
            return (df.groupBy("p_cell")
                    .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
                    .withColumn("src", F.lit(src)))

        return (agg(t.read(), "current")
                .unionByName(agg(t.read_incremental(since_snapshot_id=1),
                                 "incremental"))
                .select("src", F.col("p_cell").cast("long").alias("p_cell"),
                        "n", "sum_v")
                .orderBy("src", "p_cell"))
    return _scratch_query("snap_q_", build)


def q_s3_feature_envelope(spark, sf_dir):
    """S2/S3 feature-service scan: Esri-JSON features parsed into rows,
    where-clause + envelope-intersects pushdown, attribute rollup. The
    oracle parses the identical JSON document with DuckDB's JSON functions."""
    from raster_functions_spark import oracles as orc
    from raster_functions_spark.sources import feature_service as fs
    df = fs.features_from_service_json(
        spark, orc.esri_points_doc(200), where="pop > 500",
        envelope=(-50.0, -20.0, 80.0, 60.0))
    return (df.groupBy("category")
            .agg(F.count("*").alias("n"),
                 F.sum("pop").cast("long").alias("sum_pop"))
            .orderBy("category"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Dedup verification stage: exact 3-gram Jaccard on the MinHash-LSH
    candidate pairs (never all-pairs)."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    cand = (dedup.minhash_lsh_candidates(docs, n_hashes=8, bands=2)
            .select("id_a", "id_b"))
    return (dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5,
                                      candidates=cand)
            .orderBy("id_a", "id_b"))


def q_dedup_spans(spark, sf_dir):
    """ExactSubstr span-level dedup (Lee et al. 2022): maximal token spans
    whose 8-gram occurs ≥2× corpus-wide (positional occurrences — other
    docs AND other positions of the same doc), merged at touch-or-overlap.
    One shuffle on the md5 gram hash (window count keeps the positional
    rows), one shuffle on doc_id for the lag+cumsum interval merge."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    return (dedup.duplicate_spans(docs, k=8, min_count=2)
            .orderBy("doc_id", "span_start"))


def q_dedup_components(spark, sf_dir):
    """Dedup pipeline END: LSH candidates → exact n-gram-Jaccard verify →
    connected components (large-star/small-star contraction, the
    grouping step the salt-split bridge pairs exist for) →
    (doc_id, component_id) duplicate clusters. Oracle: recursive-CTE min-reachable-id over the
    same verified pair set."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    cand = (dedup.minhash_lsh_candidates(docs, n_hashes=8, bands=2)
            .select("id_a", "id_b"))
    verified = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5,
                                         candidates=cand)
    return dedup.connected_components(verified).orderBy("doc_id")


def q_dedup_corpus(spark, sf_dir):
    """The deduplicated corpus itself: keep one min-id representative per
    duplicate cluster (LSH→Jaccard→components), singletons untouched —
    what a training-data pipeline actually feeds the trainer."""
    from raster_functions_spark import dedup
    docs = _t(spark, sf_dir, "documents")
    cand = (dedup.minhash_lsh_candidates(docs, n_hashes=8, bands=2)
            .select("id_a", "id_b"))
    verified = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5,
                                         candidates=cand)
    return (dedup.dedup_keep_canonical(docs, verified)
            .groupBy("lang").agg(F.count("*").alias("n_kept"),
                                 F.sum("doc_id").alias("sum_ids"))
            .orderBy("lang"))


def q_text_repetition(spark, sf_dir):
    """Gopher-style within-doc repetition quality signals: most-frequent
    word-2-gram token fraction + duplicated word-5-gram token fraction,
    per document — one explode → (doc, gram) hash count (map-side
    combine absorbs the repetition itself) → per-doc max/sum."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    return text.repetition_features(docs).orderBy("doc_id")


def q_sample_budget(spark, sf_dir):
    """Per-stratum BUDGET sample — "take ~6000 chars of each language",
    the quota form real training mixes are specified in: walk each
    lang's docs in (u60, doc_id) order, keep while the preceding
    cumulative n_chars is under budget (boundary doc kept). Executed as
    sum/count aggregate → broadcast threshold prefilter → running-sum
    window over survivors + exactness fallback; the oracle runs the
    equivalent full-table running-sum window."""
    from raster_functions_spark import sampling
    docs = _t(spark, sf_dir, "documents")
    picked = sampling.sample_token_budget(
        docs, ["lang"], 6000, "n_chars", "doc_id", seed=23)
    return (picked.select("doc_id", "lang", "n_chars")
            .orderBy("lang", "doc_id"))


def q_text_decontam(spark, sf_dir):
    """Eval-set decontamination signal: distinct word-4-gram overlap
    counts between the training partition (doc_id % 7 ≠ 0) and the eval
    partition (doc_id % 7 = 0) — the GPT-3-style n-gram contamination
    check. The eval gram set is distinct-reduced and broadcast; only
    matching grams reach the per-doc count's shuffle, so no stage grows
    with corpus size except the scan."""
    from raster_functions_spark import text
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    tr = docs.filter(F.col("doc_id") % 7 != 0)
    return text.contamination_hits(tr, ev, k=4).orderBy("doc_id")


def q_curated_corpus(spark, sf_dir):
    """END-TO-END curation pipeline — the query a training-data team
    actually ships: near-dedup (MinHash-LSH candidates → exact n-gram
    Jaccard verify → connected components → keep min-id canonical) →
    quality gate (n_tokens ≥ 40) → per-lang mixture weighting (50% en,
    70% zh, 100% rest — hash-stable Bernoulli) → train/val/test hash
    split → per-(lang, split) rollup. Every stage is one shuffle or
    zero (the sampling/split/gate stages are pure narrow filters), so
    the composition inherits each stage's 100-TB posture. The DuckDB
    oracle replays the full pipeline in one SQL statement."""
    from raster_functions_spark import dedup, sampling, text
    docs = _t(spark, sf_dir, "documents")
    cand = (dedup.minhash_lsh_candidates(docs, n_hashes=8, bands=2)
            .select("id_a", "id_b"))
    verified = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5,
                                         candidates=cand)
    kept = dedup.dedup_keep_canonical(docs, verified)
    q = text.quality_features(kept).filter(F.col("n_tokens") >= 40)
    mixed = sampling.sample_fraction(
        q, "doc_id", seed=101, strata_col="lang",
        fractions={"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0,
                   "zh": 0.7})
    lab = sampling.split_by_hash(
        mixed, "doc_id", seed=17,
        weights={"train": 0.9, "val": 0.05, "test": 0.05})
    return (lab.groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_tokens").alias("sum_tokens"))
            .orderBy("lang", "split"))


def q_dedup_crossmodal(spark, sf_dir):
    """Cross-modal duplicate clusters over an image+caption table: exact
    caption edges (star-form — linear in group size, never the O(group²)
    pair join) UNION phash band-LSH+Hamming edges, ONE component pass
    over the merged graph — the transitive caption↔visual matches that
    running each modality's dedup separately provably misses. Captions
    derive deterministically from the image index (i mod 150) so the
    DuckDB oracle replays the identical edge set from the ids alone."""
    from raster_functions_spark import dedup, fixtures
    images = fixtures.images_df(spark, 400).select("image_id", "phash")
    idx = F.substring("image_id", 4, 9).cast("long")
    images = images.withColumn(
        "caption", F.concat(F.lit("caption "), (idx % 150).cast("string")))
    return dedup.crossmodal_dedup(images, max_hamming=10).orderBy("doc_id")


def q_sample_mixture(spark, sf_dir):
    """Deterministic mixture-weight sampling for corpus curation: keep
    100% of de, 25% of en, 60% of es, 0% of fr (explicit drop), and drop
    zh by omission — a pure hash filter (md5-derived u60 per doc_id),
    zero shuffle, re-run-stable (a grown corpus keeps every previously
    kept row). The DuckDB oracle replays the identical thresholds."""
    from raster_functions_spark import sampling
    docs = _t(spark, sf_dir, "documents")
    kept = sampling.sample_fraction(
        docs, "doc_id", seed=42, strata_col="lang",
        fractions={"de": 1.0, "en": 0.25, "es": 0.6, "fr": 0.0})
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"))
            .orderBy("lang"))


def q_sample_split(spark, sf_dir):
    """Deterministic train/val/test assignment by disjoint u60 hash
    ranges — membership is a pure function of (doc_id, seed), so corpus
    refreshes never move a row between splits (eval-set contamination
    guard). Zero shuffle before the audit aggregation."""
    from raster_functions_spark import sampling
    docs = _t(spark, sf_dir, "documents")
    s = sampling.split_by_hash(docs, "doc_id", seed=7,
                               weights={"train": 0.8, "val": 0.1,
                                        "test": 0.1})
    return (s.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"))
            .orderBy("split"))


def q_sample_stratified(spark, sf_dir):
    """EXACT n-per-stratum sample (lang × source, n=3, smallest (u60,
    doc_id) wins): semantically a full-table window, executed as count
    aggregate → broadcast per-stratum threshold prefilter → window over
    the ~oversample·n survivors, with a deterministic re-window fallback
    for undershot strata — the full-table window shuffle never runs at
    scale. Oracle runs the equivalent full-table window in DuckDB."""
    from raster_functions_spark import sampling
    docs = _t(spark, sf_dir, "documents")
    picked = sampling.sample_stratified_exact(
        docs, ["lang", "source"], 3, "doc_id", seed=11)
    return (picked.select("doc_id", "lang", "source")
            .orderBy("lang", "source", "doc_id"))


def q_ann_lsh(spark, sf_dir):
    """ANN via hyperplane-sign LSH buckets + multi-probe (integer ids;
    bucket bits bit-exact vs the oracle's unrolled dot products)."""
    from raster_functions_spark import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return (similarity.lsh_topk(emb.filter(F.col("vec_id") >= 5),
                                emb.filter(F.col("vec_id") < 5),
                                k=3, n_bits=6, n_probes=3)
            .select("query_id", "neighbor_id", "rank")
            .orderBy("query_id", "rank"))


def q_ann_ivf(spark, sf_dir):
    """IVF ANN top-k (k-means inverted lists + multi-probe) — integer ids."""
    from raster_functions_spark import similarity
    emb = _t(spark, sf_dir, "embeddings")
    return (similarity.ivf_topk(emb.filter(F.col("vec_id") >= 5),
                                emb.filter(F.col("vec_id") < 5),
                                k=3, n_lists=8, n_probe=8)
            .select("query_id", "neighbor_id", "rank")
            .orderBy("query_id", "rank"))


def q_ann_ivf_index(spark, sf_dir):
    """IVF over a PREBUILT partitioned index (similarity.ivf_build →
    ivf_search): searches read only probed lists' partitions. Exhaustive
    probe here (n_probe = n_lists) ⇒ same brute-force oracle as ann_ivf;
    the pruning behavior itself is plan-asserted in pytest."""
    from raster_functions_spark import similarity
    emb = _t(spark, sf_dir, "embeddings")

    def build(tmp):
        index, C = similarity.ivf_build(emb.filter(F.col("vec_id") >= 5),
                                        n_lists=8, index_path=tmp + "/idx")
        out = similarity.ivf_search(index, C,
                                    emb.filter(F.col("vec_id") < 5),
                                    k=3, n_probe=8)
        return (out.select("query_id", "neighbor_id", "rank")
                .orderBy("query_id", "rank"))
    return _scratch_query("ivfidx_", build)


def q_ann_ivf_append(spark, sf_dir):
    """Incremental IVF index maintenance (similarity.ivf_build_snapshot →
    ivf_append → ivf_search_snapshot): build on half the corpus, append
    the other half exactly-once into the snapshot-backed index (a
    replayed append run_id no-ops), search with manifest-level partition
    pruning. Exhaustive probe (n_probe = n_lists) ⇒ the same brute-force
    oracle as ann_ivf — centroid- and split-independent by construction;
    append/search parity itself is pytest-asserted with fixed centroids
    (tests/test_round6_ivf_append.py)."""
    from raster_functions_spark import similarity
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 5)

    def build(tmp):
        similarity.ivf_build_snapshot(
            corpus.filter(F.col("vec_id") % 2 == 1), tmp + "/idx", n_lists=8)
        similarity.ivf_append(
            corpus.filter(F.col("vec_id") % 2 == 0), tmp + "/idx",
            run_id="ivf-1")
        similarity.ivf_append(          # replay: must not double-insert
            corpus.filter(F.col("vec_id") % 2 == 0), tmp + "/idx",
            run_id="ivf-1")
        out = similarity.ivf_search_snapshot(
            spark, tmp + "/idx", emb.filter(F.col("vec_id") < 5),
            k=3, n_probe=8)
        return (out.select("query_id", "neighbor_id", "rank")
                .orderBy("query_id", "rank"))
    return _scratch_query("ivfsnap_", build)


def q_img_ndvi_zonal(spark, sf_dir):
    """F1 NDVI kernel → cell rollup (LoD parent) → zonal sum over the
    lossless red/NIR tier (lossy DCT round trip gated by PSNR pytest)."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    imgs = (fixtures.images_df(spark, 800)
            .filter((F.col("bands") == 2) & (F.col("fmt") != "dct")))
    nd = tile_stats(imgs, [pointwise.ndvi()], {"ndvi_sum": _px_sum},
                    keep_cols=["image_id", "lon", "lat"])
    cells = nd.withColumn("cell", grid.encode_col(F.col("lon"), F.col("lat"), 3))
    return (cells.groupBy("cell")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("ndvi_sum"), 4).alias("sum_ndvi"))
            .orderBy("cell"))


# =====================================================================
# Contract entry points
# =====================================================================

def _ensure_shipped(spark: SparkSession) -> None:
    """Make the package importable on executor workers even when the
    driver session was created elsewhere (equivalent of launching with
    spark-submit --py-files)."""
    try:
        from raster_functions_spark.session import ship_package
        ship_package(spark)
    except Exception as e:  # keep queries usable, but say WHY shipping
        import warnings      # failed — a silent pass turns this into a
        warnings.warn(       # distant executor ModuleNotFoundError
            f"ship_package failed ({e!r}); executors may lack the package")


def q_mm_decode_video(spark, sf_dir):
    """Multimodal VIDEO ingest: ISO-BMFF containers demuxed by the
    from-scratch box parser (moov→trak→stsc/stsz/stco sample map, never
    mdat magic-scanning), motion-JPEG tracks frame-sampled (every 2nd) and
    decoded; avc1 tracks quarantine (ok=false) but are ENRICHED from their
    avcC box — profile_idc/level_idc and the SPS's authoritative coded
    dims (which deliberately differ from the advisory stsd values in the
    fixture); truncated containers quarantine whole — all verified
    against a single-process replay of the same public builder+decoder."""
    from raster_functions_spark import fixtures, multimodal
    vids = fixtures.mp4_videos_df(spark, 30)
    return (multimodal.video_decode_metrics(vids, keep_cols=("video_id",),
                                            every_n=2)
            .orderBy("video_id"))


def q_ann_lsh_multi(spark, sf_dir):
    """Amplified multi-table LSH ANN (4 sign-hash tables, OR-amplified
    candidates, per-bucket GEMM scoring — no join, no candidate rows) over
    the deterministic clustered fixture corpus; integer-only output ranks
    vs a single-process replay oracle."""
    from raster_functions_spark import fixtures, similarity
    corpus, queries = fixtures.ann_vectors_dfs(spark, 2000, 8, 32)
    return (similarity.lsh_multi_topk(corpus, queries, k=5, n_bits=8,
                                      n_tables=4)
            .select("query_id", "neighbor_id", "rank")
            .orderBy("query_id", "rank"))


def q_f7_fish_habitat(spark, sf_dir):
    """F7 FishHabitatSuitability: product of trapezoidal temperature and
    salinity memberships × scalar depth score (the putmask cascade of
    FishHabitatSuitability.py:75-96) over red/NIR-as-T/S bands — per-image
    rounded suitability sums vs the closed-form SQL trapezoids."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 400),
                     [pointwise.fish_habitat_suitability(depth=5.0)],
                     {"sum_s": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_s", 3).alias("sum_s"))
            .orderBy("image_id"))


def q_p5_fill_constant(spark, sf_dir):
    """P5 FillRaster: constant-fill source (FillRaster.py:38-40) — the
    per-image sum is value × pixel count, closed-form in SQL."""
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 400),
                     [pointwise.fill_constant(7.5)],
                     {"sum_f": _px_sum}, keep_cols=["image_id"])
    return (out.select("image_id", F.round("sum_f", 2).alias("sum_f"))
            .orderBy("image_id"))


def q_u2_composite_bands(spark, sf_dir):
    """U2/U3 CompositeBand/ExtractBand: band reorder [NIR, red] — per-image
    per-band sums prove the selection/ordering semantics."""
    import numpy as np
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 400),
                     [pointwise.composite_bands(bands=[1, 0])],
                     {"sum_b0": lambda px, m: float(px[0].astype(np.float64).sum()),
                      "sum_b1": lambda px, m: float(px[1].astype(np.float64).sum())},
                     keep_cols=["image_id"])
    return (out.select("image_id",
                       F.col("sum_b0").cast("long").alias("sum_b0"),
                       F.col("sum_b1").cast("long").alias("sum_b1"))
            .orderBy("image_id"))


def q_s5_random(spark, sf_dir):
    """S5 Random source (deprecated/Random.py) made deterministic for
    distributed runs: md5+splitmix-seeded per tile id, so the same tile
    yields the same raster on ANY worker/process — verified against a
    single-process replay of the same public generator."""
    import numpy as np
    from raster_functions_spark.operators import pointwise
    from raster_functions_spark.raster import tile_stats
    out = tile_stats(_kind1_lossless(spark, 200),
                     [pointwise.random_source(bands=2)],
                     {"sum_r": _px_sum}, keep_cols=["image_id"],
                     meta_cols=["image_id"])
    return (out.select("image_id", F.round("sum_r", 3).alias("sum_r"))
            .orderBy("image_id"))


def q_s4_training_csv(spark, sf_dir):
    """S4 training-CSV scan (the reference's CSV-driven classifier
    training inputs): deterministic CSV written to a temp dir, parsed by
    ml.training_from_csv, returned as the (features, label) table the
    model fit consumes — vs a VALUES replay of the same content."""
    import pandas as pd
    from raster_functions_spark.operators import ml

    def build(tmp):
        rows = ["red,nir,label"]
        for j in range(60):
            rows.append(f"{(j * 7) % 250},{(j * 13) % 240},{j % 3}")
        with open(tmp + "/train.csv", "w") as f:
            f.write("\n".join(rows))
        X, y = ml.training_from_csv(spark, tmp + "/train.csv",
                                    ["red", "nir"], "label")
        pdf = pd.DataFrame({"red": X[:, 0].astype("int64"),
                            "nir": X[:, 1].astype("int64"),
                            "label": y.astype("int64")})
        return (spark.createDataFrame(pdf)
                .orderBy("red", "nir", "label"))
    return _scratch_query("traincsv_", build)


def q_f16_key_metadata(spark, sf_dir):
    """F16 KeyMetadata: dataset- and band-scope key properties injected as
    columns (deprecated/KeyMetadata.py:63-108 analog) ride through a
    relational rollup — the metadata IS queryable table state."""
    from raster_functions_spark import fixtures, raster
    imgs = fixtures.images_df(spark, 200)
    tagged = raster.update_key_metadata(
        raster.update_key_metadata(imgs, sensor="Landsat-8", datum="WGS84"),
        band_index=0, wavelength=0.48)
    return (tagged.groupBy("sensor", "datum", "band0_wavelength", "fmt")
            .agg(F.count("*").alias("n"))
            .orderBy("fmt"))


def q_flagship_incremental(spark, sf_dir):
    """The flagship zonal query as a continuously-updatable materialized
    view: two availableNow microbatches of the SAME 1000-image corpus the
    batch flagship query uses, each committing the decomposable
    per-(aoi, cell) partials to the snapshot table exactly-once; the
    merged view must match the img_flagship DuckDB oracle row for row."""
    from raster_functions_spark import fixtures, pipeline

    def build(tmp):
        images = fixtures.images_df(spark, 1000)
        aoi = fixtures.aoi_df(spark, 25)
        images.filter("image_id < 'img000000500'").coalesce(1) \
            .write.parquet(tmp + "/src/a")
        images.filter("image_id >= 'img000000500'").coalesce(1) \
            .write.parquet(tmp + "/src/b")
        stream = (spark.readStream.schema(images.schema)
                  .option("maxFilesPerTrigger", 1).parquet(tmp + "/src/*"))
        q = pipeline.start_flagship_incremental(
            stream, aoi, tmp + "/view", tmp + "/ckpt",
            query_name="flagship_incremental_q")
        q.awaitTermination()
        return pipeline.current_flagship(spark, tmp + "/view")
    return _scratch_query("flaginc_", build)


def q_stream_pixel_composite(spark, sf_dir):
    """Streaming per-PIXEL running mean composite: availableNow microbatch
    ingest reduces each batch to [Σ, count] partial tiles
    (stack.mean_partial_tiles) committed exactly-once to a snapshot table
    (run_id=batch-N); the live composite is one merge over the partials.
    Oracle: the closed-form whole-stack mean (partials algebra is exact
    for the integer-valued fixture)."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.raster import tile_stats
    from raster_functions_spark.streaming import composites

    def build(tmp):
        pdf = fixtures.mosaic_stack_pdf(3, 6)
        spark.createDataFrame(pdf[pdf.t < 3]).coalesce(1).write.parquet(
            tmp + "/src/a")
        spark.createDataFrame(pdf[pdf.t >= 3]).coalesce(1).write.parquet(
            tmp + "/src/b")
        stream = (spark.readStream
                  .schema(spark.createDataFrame(pdf).schema)
                  .option("maxFilesPerTrigger", 1).parquet(tmp + "/src/*"))
        q = composites.start_pixel_mean_ingest(
            stream, tmp + "/table", tmp + "/ckpt",
            query_name="stream_pixel_composite_q")
        q.awaitTermination()
        live = composites.current_pixel_composite(spark, tmp + "/table")
        agg = tile_stats(live, [], {"sum_m": _px_sum},
                         keep_cols=["scene_id", "n_rasters"])
        return (agg.select("scene_id", "n_rasters",
                           F.round("sum_m", 4).alias("sum_m"))
                .orderBy("scene_id"))
    return _scratch_query("spxc_", build)


def q_rft_mosaic_synthesis(spark, sf_dir):
    """§2.11 mosaic plan language #2: the Landsat Image Synthesis template
    (predict_month=Mar) — month-filtered mean composite over the
    collection, executed through the MAP-SIDE-COMBINED mean path
    (stack_mean_assoc: [Σ, count] partials before the shuffle). Fixture
    months cycle t%12+1, so Mar = two members; their mean is an exact
    half, making the f32 rollup cross-engine exact."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.plans import chain, rft
    from raster_functions_spark.raster import tile_stats
    df = (fixtures.mosaic_stack_df(spark, 3, 26)
          .withColumn("acq_month", (F.col("t") % 12 + 1).cast("int")))
    spec = rft.load_rft(
        "/root/reference/functions/Landsat Image Synthesis.rft.xml")
    out = chain.build_chain(df, spec)
    agg = tile_stats(out, [], {"sum_m": _px_sum},
                     keep_cols=["scene_id", "n_rasters"])
    return (agg.select("scene_id", "n_rasters",
                       F.round("sum_m", 4).alias("sum_m"))
            .orderBy("scene_id"))


def q_rft_mosaic_findmax(spark, sf_dir):
    """§2.11 mosaic-level plan language end to end: the reference's OWN
    FindMaxPixel_Mosaic.rft.xml (an ``__IsRasterArray__`` collection
    binding with MatchVariable/UnionDimension PropertySets) parsed and
    compiled by plans.rft onto the stack engine — per-pixel max across
    the acquisition collection with FindMax.py:66-84's validity math
    (values > 100 → −1), reduced per scene."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.plans import chain, rft
    from raster_functions_spark.raster import tile_stats
    df = fixtures.mosaic_stack_df(spark, 3, 6)
    spec = rft.load_rft(
        "/root/reference/functions/FindMaxPixel_Mosaic.rft.xml")
    out = chain.build_chain(df, spec)
    agg = tile_stats(out, [], {"sum_v": _px_sum},
                     keep_cols=["scene_id", "n_rasters"])
    return (agg.select("scene_id", "n_rasters",
                       F.col("sum_v").cast("long").alias("sum_v"))
            .orderBy("scene_id"))


def q_m5_sarima_seasonal(spark, sf_dir):
    """M5/A11 general seasonal orders: the SeasonalARIMA template's shipped
    (1,0,0)×(0,1,1,12) — seasonal differencing D=1 + seasonal MA Q=1,
    the reference's full (P,D,Q,s) surface (SeasonalARIMA.py:138-142) —
    fitted for EVERY pixel at once by the batched Hannan–Rissanen solver,
    with the template's year/month prediction index arithmetic
    (SeasonalARIMA.py:185-212) replicated exactly."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.plans import chain, rft
    from raster_functions_spark.raster import tile_stats
    st = spark.createDataFrame(fixtures.sarima_monthly_stack_pdf())
    spec = rft.load_rft("/root/reference/functions/SeasonalARIMA.rft.xml")
    args = dict(spec[0]["args"], data_start_year=1990, train_start_year=1990,
                train_end_year=2000, predict_year=2003)
    out = chain.build_chain(
        st, [{"op": "mosaic", "kind": "sarima_delta", "args": args}])
    agg = tile_stats(out, [], {"sum_delta": _px_sum},
                     keep_cols=["scene_id", "n_obs"])
    return (agg.select("scene_id", "n_obs",
                       F.round("sum_delta", 3).alias("sum_delta"))
            .orderBy("scene_id"))


def q_snap_retention(spark, sf_dir):
    """Snapshot RETENTION semantics end to end (r5): ten streaming
    microbatches through streaming_sink with expire_every=4/keep_last=3
    (log truncated twice, run-id tombstones recorded), then (a) a LATE
    REPLAY of an already-expired batch — must be a tombstone no-op, (b) a
    replay of a live batch — run_id no-op, (c) the final table state.
    The oracle re-derives the expected per-partition counts/sums in
    closed form: any double-commit, dropped data file, or lost tombstone
    changes the aggregates."""
    from raster_functions_spark.snapshots import SnapshotTable

    def batch(b):
        return (spark.range(b * 10, b * 10 + 10)
                .withColumnRenamed("id", "image_id")
                .withColumn("p_cell", F.col("image_id") % 3)
                .withColumn("v", (F.col("image_id") * 7).cast("long")))

    def build(td):
        t = SnapshotTable(spark, td + "/t")
        sink = t.streaming_sink("p_cell", expire_every=4, keep_last=3)
        for b in range(10):
            sink(batch(b), b)
        sink(batch(0), 0)      # replay of an EXPIRED batch: watermark no-op
        sink(batch(9), 9)      # replay of a LIVE batch: run_id no-op
        return (t.read().groupBy("p_cell")
                .agg(F.count("*").alias("n"), F.sum("v").alias("sum_v"))
                .select(F.col("p_cell").cast("long").alias("p_cell"), "n",
                        "sum_v")
                .orderBy("p_cell"))
    return _scratch_query("snap_r_", build)


def q_m5_sarima_d2(spark, sf_dir):
    """M5/A11 completion: seasonal differencing D=2 — (1,0,0)×(0,2,1,12)
    — the last seasonal-order class the engine lacked (round-4 VERDICT
    #5). The ∇s² forecast integrates back level by level
    (ml.sarima_forecast_batch); oracle is the single-process replay of
    the same fitter (replay-VALUES, m3/m4 precedent), with the fitter
    math independently anchored by known-process recovery tests."""
    from raster_functions_spark import fixtures
    from raster_functions_spark.operators import ml
    from raster_functions_spark.raster import tile_stats
    st = spark.createDataFrame(fixtures.sarima_monthly_stack_pdf())
    out = ml.sarima_template_delta(
        st, data_start_year=1990, train_start_year=1990,
        train_end_year=2000, predict_year=2003, predict_month=6,
        seasonal_order=(0, 2, 1, 12))
    agg = tile_stats(out, [], {"sum_delta": _px_sum},
                     keep_cols=["scene_id", "n_obs"])
    return (agg.select("scene_id", "n_obs",
                       F.round("sum_delta", 3).alias("sum_delta"))
            .orderBy("scene_id"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: image count seeded from the documents table,
    full PIP→cell→decode→zonal pipeline."""
    from raster_functions_spark import fixtures, pipeline
    _ensure_shipped(spark)
    sf_dir = "/root/testdata/sf0.001"
    n = _t(spark, sf_dir, "documents").count()  # 500 — deterministic seed
    images = fixtures.images_df(spark, int(n))
    aoi = fixtures.aoi_df(spark, 20)
    return pipeline.flagship(spark, images, aoi)


# The driver's correctness snapshot covers the first 50 keys of queries();
# these are they, in order. Every other key follows in definition order.
DRIVER_WINDOW = (
    "snap_retention", "dedup_bloom", "text_pii", "text_chunks", "text_pack",
    "text_pack_export", "dedup_ingest", "semdedup_corpus",
    "text_unigram_ppl", "mm_augment", "dedup_spans", "curated_corpus",
    "text_decontam", "text_repetition", "sample_budget", "dedup_crossmodal",
    "sample_mixture", "sample_split", "sample_stratified",
    "text_tokens_merged", "ann_ivf_append", "dedup_components",
    "dedup_corpus", "dedup_minhash_lsh", "flagship_incremental",
    "p9_zonal_interval", "img_zonal_remap_px", "s4_training_csv",
    "f16_key_metadata", "ann_ivf_index", "mm_resize", "mm_patches",
    "geo_area_centroid", "geo_radius_join", "geo_track_stats", "dedup_url",
    "text_ppl_bucket", "sketch_hll", "sketch_hll_stream", "sketch_quantile",
    "text_vocab", "geo_knn", "dedup_winnow_pairs", "mm_shards",
    "sketch_quantile_stream", "funnel_steps", "geo_compact_cover",
    "geo_polyfill", "text_winnow", "sample_mix_temperature",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every ``q_*`` function, keyed by its name minus ``q_``: the
    DRIVER_WINDOW keys first, then the rest in definition order. Each
    ships the package first, because the driver may call it on a session
    that ``get_spark`` did not build."""
    def shipped(fn):
        @functools.wraps(fn)
        def inner(spark, sf_dir):
            _ensure_shipped(spark)
            return fn(spark, sf_dir)
        return inner

    found = {n[2:]: f for n, f in globals().items()
             if n.startswith("q_") and inspect.isfunction(f)}
    order = [*DRIVER_WINDOW, *(k for k in found if k not in DRIVER_WINDOW)]
    return {k: shipped(found[k]) for k in order}


def oracle_sql() -> dict[str, str]:
    from raster_functions_spark import text as _text
    from raster_functions_spark import dedup as _dedup
    from raster_functions_spark import oracles as _orc
    from raster_functions_spark import sampling as _sampling
    from raster_functions_spark import sketches as _sketches
    from raster_functions_spark import grid as _grid

    # legacy 8-hash / 2-band banding for the ngram-verification stage
    # (its Spark query keeps the anchored-family candidate generator)
    mh8 = _dedup.minhash_sql("text", 5, 8)
    band_sigs8 = [" || '|' || ".join(mh8[4 * b + r] for r in range(4)).join(["(", ")"])
                  for b in range(2)]
    bands_union8 = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {s} AS bsig FROM documents"
        for b, s in enumerate(band_sigs8))

    # 64-hash / 16-band / 4-row family, matching q_dedup_minhash_lsh; the
    # signature CTE computes each hash once so the 16 band projections
    # don't recompute the shingle scan
    _mh_n, _mh_bands, _mh_rows = 64, 16, 4
    mh = _dedup.minhash_sql("text", 5, _mh_n)
    sig_cte = ("SELECT doc_id, "
               + ", ".join(f"{e} AS h{i}" for i, e in enumerate(mh))
               + " FROM documents")
    band_sigs = [" || '|' || ".join(f"h{_mh_rows * b + r}"
                                    for r in range(_mh_rows)).join(["(", ")"])
                 for b in range(_mh_bands)]
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {s} AS bsig FROM sigs"
        for b, s in enumerate(band_sigs))

    knn_oracle = """
          WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
               c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
               s AS (SELECT query_id, neighbor_id,
                            list_cosine_similarity(qv, cv) AS score FROM q, c)
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM s) WHERE rank <= 3
          ORDER BY query_id, rank"""

    return {
        # IVF with n_probe = n_lists is exhaustive ⇒ exact ⇒ same oracle as kNN
        "ann_ivf": knn_oracle,
        "ann_lsh": _orc.lsh_topk_sql(64, 6, 3, 3),
        # --- image-engine oracles: pixels re-derived in SQL from the
        # closed-form fixtures (see oracles.py for the parity rules) ---
        "img_hillshade": _orc.hillshade_sql(4, 4, 32),
        "img_stack_median": _orc.stack_median_sql(4, 12, 16),
        "img_cti": _orc.cti_sql(3, 2, 32),
        "img_zonal_remap_px": _orc.zonal_remap_px_sql(3, 3, 32),
        "img_knn_classify": _orc.knn_classify_sql(
            400, [(40.0, 40.0, 0), (200.0, 200.0, 1), (40.0, 200.0, 2)]),
        "img_chain": _orc.chain_sql(3, 2, 32),
        "img_dnbr": _orc.dnbr_sql(3),
        "img_cloud_fill": _orc.cloud_fill_sql(4, 32, 8),
        "img_hexbin": _orc.hexbin_sql(2, 2, 32),
        "img_pyramid": _orc.pyramid_sql(4, 4, 16, 2),
        "img_ndvi_zonal": _orc.ndvi_zonal_sql(800),
        "img_phash_dedup": _orc.phash_pairs_sql(600, 10),
        "img_flagship": _orc.flagship_sql(1000, 25),
        "m5_sarima": _orc.sarima_by_group_sql(
            """SELECT event_type, date_trunc('hour', ts) AS hb,
                      CAST(COUNT(*) AS DOUBLE) AS n
               FROM events GROUP BY 1, 2""",
            "event_type", "n", "hb", period=24, horizon=24),
        "m5_sarima_px": _orc.sarima_stack_delta_sql(3, 24, 16, period=12, horizon=6),
        "w2_aspect_slope": _orc.aspect_slope_class_sql(3, 2, 32),
        "w7_mdhillshade": _orc.mdhillshade_sql(3, 2, 32),
        "f4_windchill": _orc.windchill_sql(400),
        "f4_windchill_units": _orc.windchill_sql(400, t_units="k",
                                                 w_units="m/s", out_units="c"),
        "f5_heat_index": _orc.heat_index_sql(400),
        "f6_fuzzy_gaussian": _orc.fuzzy_gaussian_sql(3, 2, 32, 100.0, 0.001),
        "f8_vineyard": _orc.vineyard_sql(400),
        "f11_unmixing": _orc.unmixing_sql(400, 1.0, 0.2, 0.3, 1.0),
        "f15_cubism": _orc.cubism_sql(2, 2, 32),
        "a7_percent_above_px": _orc.percent_above_stack_sql(3, 12, 16, 2000.0),
        "s3_feature_envelope": _orc.feature_service_sql(200, 500, (-50.0, -20.0, 80.0, 60.0)),
        "w4_rank_median_px": _orc.rank_median_sql(2, 2, 32),
        "f13_calculator": _orc.calculator_sql(400),
        "f14_remap": _orc.remap_sql(3, 2, 32, [(0.0, 100.0, 1.0), (100.0, 130.0, 2.0), (130.0, 1000.0, 3.0)]),
        "f14_vector_field": _orc.vector_field_sql(400),
        "f3_arith_div": _orc.arith_div_sql(400),
        "rft_mosaic_findmax": _orc.rft_findmax_sql(3, 6, 16, 150),
        "rft_mosaic_synthesis": _orc.rft_synthesis_sql(3, 26, 16, 150, 3),
        "stream_pixel_composite": _orc.stream_pixel_composite_sql(3, 6, 16, 150),
        "flagship_incremental": _orc.flagship_sql(1000, 25),
        "f7_fish_habitat": _orc.fish_habitat_sql(400),
        "p5_fill_constant": _orc.fill_constant_sql(400),
        "u2_composite_bands": _orc.composite_bands_sql(400),
        "s5_random": _orc.random_source_sql(200),
        "s4_training_csv": _orc.training_csv_sql(),
        "f16_key_metadata": _orc.key_metadata_sql(200),
        "ann_ivf_index": knn_oracle,
        "ann_ivf_append": knn_oracle,
        "mm_decode_video": _orc.video_decode_sql(30, 2),
        "ann_lsh_multi": _orc.lsh_multi_sql(2000, 8, 32, 5, 8, 4),
        "m5_sarima_seasonal": _orc.sarima_seasonal_sql(8, 144),
        "m5_sarima_d2": _orc.sarima_seasonal_sql(8, 144, (0, 2, 1)),
        "snap_retention": """
          SELECT CAST(i % 3 AS BIGINT) AS p_cell,
                 COUNT(*) AS n, CAST(SUM(i * 7) AS BIGINT) AS sum_v
          FROM generate_series(0, 99) t(i)
          GROUP BY 1 ORDER BY 1""",
        "a6_month_synthesis": _orc.month_synthesis_sql(3, 24, 16, 1),
        "a10_fuzzy_mssmall": _orc.fuzzy_mssmall_sql(3, 2, 32, 2.0),
        "j6_nearest_labels": _orc.nearest_labels_sql(
            400, [(40.0, 40.0, 1), (200.0, 200.0, 2), (40.0, 200.0, 3), (200.0, 40.0, 4)], 2),
        "f15_chuck_close": _orc.chuck_close_sql(2, 2, 32),
        "p3_mask_apply": _orc.mask_apply_sql(400),
        "p4_replace_nulls": _orc.replace_value_sql(400),
        "s6_latitude": _orc.latitude_sql(2, 2, 32),
        "s7_catalog": _orc.catalog_sql(400),
        "p7_qa_clear": _orc.qa_clear_sql(400),
        "mm_resize": _orc.resize_sql(2, 2, 32, 8, 8),
        "mm_patches": _orc.patchify_sql(2, 2, 32, 8, 8),
        "geo_area_centroid": _orc.area_centroid_sql(40),
        "geo_radius_join": _orc.geo_radius_sql(0.03, 5, 1.719),
        "geo_track_stats": _orc.geo_track_sql(),
        "dedup_url": _orc.dedup_url_sql(),
        "text_ppl_bucket": _text.ppl_buckets_sql("documents"),
        "sketch_hll": (
            "SELECT * FROM (\n"
            "  SELECT * FROM (" + _sketches.hll_sql(
                "events", "user_id",
                "concat('dau:', strftime(date_trunc('day', ts), '%Y-%m-%d'))",
                "grp", p=8) + ")\n"
            "  UNION ALL\n"
            "  SELECT * FROM (" + _sketches.hll_sql(
                "events", "event_id",
                "concat('events:', event_type)", "grp", p=8) + ")\n"
            ") ORDER BY grp"),
        # incremental register commits must equal the one-shot sketch —
        # merge is lossless, so the oracle is simply the full-table HLL
        "sketch_hll_stream": _sketches.hll_sql(
            "events", "user_id", "event_type", "grp", p=8),
        "geo_compact_cover": _grid.compact_cover_sql(
            -10.0, -5.0, 25.0, 30.0, 9),
        "geo_polyfill": _orc.polyfill_sql([0, 1, 2], 11),
        "sketch_quantile": _sketches.quantile_sql(
            "events", "value", "event_type", "grp",
            [0.5, 0.95, 0.99], lo=0.0, hi=500.0, bins=256),
        "text_vocab": _text.vocab_sql("documents", top_n=15),
        # the lat band must exceed the largest k-th-NN angle (25.6° at
        # sf0.001, where the points are sparsest)
        "geo_knn": _orc.geo_knn_sql(3, 7, 30.0),
        "dedup_winnow_pairs": _text.winnow_pairs_sql("documents"),
        "mm_shards": _orc.shards_sql(120, 1 << 16),
        # lossless count-additive merge => oracle is the one-shot sketch
        "sketch_quantile_stream": _sketches.quantile_sql(
            "events", "value", "event_type", "grp",
            [0.5, 0.95, 0.99], lo=0.0, hi=500.0, bins=256),
        "funnel_steps": """
      WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
          AND date_diff('us', s1.t1, e.ts) <= 86400000000
        GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND date_diff('us', s1.t1, e.ts) <= 86400000000
        GROUP BY e.user_id),
      j AS (
        SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                LEFT JOIN s3 ON s1.user_id = s3.user_id)
      SELECT
        CAST(COUNT(t1) AS BIGINT) AS n_view,
        CAST(COUNT(t2) AS BIGINT) AS n_click,
        CAST(COUNT(t3) AS BIGINT) AS n_purchase,
        CAST(SUM(CASE WHEN t2 IS NOT NULL
                 THEN date_diff('us', t1, t2) END)
             AS BIGINT) AS sum_view_to_click_us,
        CAST(SUM(CASE WHEN t3 IS NOT NULL
                 THEN date_diff('us', t2, t3) END)
             AS BIGINT) AS sum_click_to_purchase_us
      FROM j""",
        "text_winnow": _text.winnow_sql("documents"),
        "sample_mix_temperature": _sampling.mixture_sql(
            "documents", "source", "n_chars", tau=0.7, budget=1_000_000),
        "mm_augment": _orc.augment_sql(2, 2, 32, 16, 16),
        "mm_decode_png": _orc.png_decode_sql(40),
        "mm_decode_jpeg": _orc.jpeg_decode_sql(40),
        "mm_quarantine": _orc.mm_quarantine_sql(84, 7),
        "mm_ingest_rollup": _orc.mm_ingest_rollup_sql(84, 7, 6),
        "m3_random_forest": _orc.rf_classify_sql(400),
        "m4_gbt": _orc.gbt_classify_sql(400),
        "mm_catalog": """
          WITH rows AS (
            SELECT 'png' AS fmt, 3 AS bands, 24 AS h, 24 AS w
            FROM generate_series(0, 19) t(i)
            UNION ALL
            SELECT 'jpeg', CASE WHEN i % 4 = 0 THEN 1 ELSE 3 END, 24, 32
            FROM generate_series(0, 19) t(i)
            UNION ALL
            SELECT 'bmp', 3, 24, 24 FROM generate_series(0, 19) t(i)
            UNION ALL
            SELECT 'rf:zlib', 3, 24, 24 FROM generate_series(0, 19) t(i))
          SELECT fmt, CAST(bands AS INT) AS bands, CAST(h AS INT) AS h,
                 CAST(w AS INT) AS w, COUNT(*) AS n
          FROM rows GROUP BY 1, 2, 3, 4 ORDER BY fmt, bands""",
        "snap_incremental": """
          WITH cur AS (
            SELECT i % 4 AS p_cell, i * 3 AS v
            FROM generate_series(0, 149) t(i) WHERE i % 4 <> 1
            UNION ALL
            SELECT 1, i * 3 FROM generate_series(200, 219) t(i)),
          inc AS (
            SELECT i % 4 AS p_cell, i * 3 AS v
            FROM generate_series(100, 149) t(i)
            UNION ALL
            SELECT 1, i * 3 FROM generate_series(200, 219) t(i))
          SELECT 'current' AS src, CAST(p_cell AS BIGINT) AS p_cell,
                 COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
          FROM cur GROUP BY 2
          UNION ALL
          SELECT 'incremental', CAST(p_cell AS BIGINT), COUNT(*),
                 CAST(SUM(v) AS BIGINT)
          FROM inc GROUP BY 2
          ORDER BY src, p_cell""",
        "dedup_ngram_jaccard": _orc.ngram_jaccard_sql(f"""
          WITH bands AS ({bands_union8}),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
          SELECT DISTINCT id_a, id_b FROM pairs"""),
        "dedup_components": _dedup.components_sql(_orc.ngram_jaccard_sql(f"""
          WITH bands AS ({bands_union8}),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
          SELECT DISTINCT id_a, id_b FROM pairs""")) + " ORDER BY doc_id",
        "dedup_spans": _dedup.duplicate_spans_sql("documents", k=8)
            + " ORDER BY doc_id, span_start",
        "text_repetition": _text.repetition_sql("documents")
            + " ORDER BY doc_id",
        "text_decontam": f"""
          WITH g AS (SELECT doc_id,
                            {_text.word_ngrams_sql('text', 4)} AS grams
                     FROM documents),
          ev AS (SELECT DISTINCT unnest(grams) AS _gram FROM g
                 WHERE doc_id % 7 = 0),
          tr AS (SELECT doc_id, unnest(grams) AS _gram FROM g
                 WHERE doc_id % 7 <> 0)
          SELECT tr.doc_id, COUNT(*) AS n_hits
          FROM tr JOIN ev USING (_gram)
          GROUP BY tr.doc_id ORDER BY tr.doc_id""",
        "curated_corpus": f"""
          WITH comp AS ({_dedup.components_sql(_orc.ngram_jaccard_sql(f'''
          WITH bands AS ({bands_union8}),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
          SELECT DISTINCT id_a, id_b FROM pairs'''))}),
          kept AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM comp
                                 WHERE component_id <> doc_id)),
          mixed AS (
            SELECT * FROM kept WHERE n_tokens >= 40
              AND {_sampling.fractions_sql('doc_id', 101, 'lang',
                   {'en': 0.5, 'de': 1.0, 'es': 1.0, 'fr': 1.0,
                    'zh': 0.7})}),
          lab AS (
            SELECT *, {_sampling.split_sql('doc_id', 17,
                       {'train': 0.9, 'val': 0.05, 'test': 0.05})} AS split
            FROM mixed)
          SELECT lang, split, COUNT(*) AS n_docs,
                 CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
                 CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM lab GROUP BY lang, split ORDER BY lang, split""",
        "dedup_crossmodal": _dedup.components_sql(
            _orc.crossmodal_pairs_sql(400, 10, 150)) + " ORDER BY doc_id",
        "sample_mixture": f"""
          SELECT lang, COUNT(*) AS n_kept,
                 CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
                 CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM documents
          WHERE {_sampling.fractions_sql('doc_id', 42, 'lang',
                 {'de': 1.0, 'en': 0.25, 'es': 0.6, 'fr': 0.0})}
          GROUP BY lang ORDER BY lang""",
        "sample_split": f"""
          SELECT {_sampling.split_sql('doc_id', 7,
                 {'train': 0.8, 'val': 0.1, 'test': 0.1})} AS split,
                 COUNT(*) AS n_docs,
                 CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
                 CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM documents GROUP BY 1 ORDER BY 1""",
        "sample_stratified": _sampling.stratified_sql(
            "documents", ["lang", "source"], 3, "doc_id", 11,
            select_cols="doc_id, lang, source")
            + " ORDER BY lang, source, doc_id",
        "sample_budget": _sampling.token_budget_sql(
            "documents", ["lang"], 6000, "n_chars", "doc_id", 23,
            select_cols="doc_id, lang, n_chars")
            + " ORDER BY lang, doc_id",
        "dedup_corpus": f"""
          WITH comp AS ({_dedup.components_sql(_orc.ngram_jaccard_sql(f'''
          WITH bands AS ({bands_union8}),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
          SELECT DISTINCT id_a, id_b FROM pairs'''))})
          SELECT lang, COUNT(*) AS n_kept,
                 CAST(SUM(doc_id) AS BIGINT) AS sum_ids
          FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM comp
                               WHERE component_id <> doc_id)
          GROUP BY lang ORDER BY lang""",
        "a1_pricing_summary": """
          SELECT l_returnflag, l_linestatus,
                 ROUND(SUM(l_quantity), 4) AS sum_qty,
                 ROUND(SUM(l_extendedprice), 4) AS sum_base,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc,
                 ROUND(AVG(l_quantity), 6) AS avg_qty,
                 COUNT(*) AS n
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""",
        "a4_percentile": """
          SELECT l_returnflag,
                 ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
                 ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
                 ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
        "a7_percent_above": """
          SELECT event_type,
                 ROUND(AVG(CASE WHEN value >= 150.0 THEN CAST(1 AS DOUBLE)
                                ELSE CAST(0 AS DOUBLE) END) * 100, 6) AS pct,
                 COUNT(*) AS n
          FROM events GROUP BY event_type ORDER BY event_type""",
        "a8_topk_per_group": """
          SELECT o_orderpriority, o_orderkey, rnk FROM (
            SELECT o_orderpriority, o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders) WHERE rnk <= 3
          ORDER BY o_orderpriority, rnk""",
        "a9_regression": """
          SELECT l_returnflag,
                 ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
                 ROUND(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
                 COUNT(*) AS n
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
        "p6_bitmask": """
          SELECT CAST(l_orderkey & 7 AS BIGINT) AS qa_bits, COUNT(*) AS n,
                 ROUND(SUM(l_quantity), 4) AS sum_qty
          FROM lineitem WHERE (l_orderkey & 4) > 0
          GROUP BY qa_bits ORDER BY qa_bits""",
        "p8_time_range": """
          SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_v
          FROM events
          WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
            AND ts <  TIMESTAMP '2024-01-22 00:00:00'
          GROUP BY event_type ORDER BY event_type""",
        "p9_zonal_interval": """
          WITH zones AS (
            SELECT n_nationkey AS zone_id,
                   CASE WHEN n_nationkey % 5 = 0 THEN NULL
                        ELSE CAST(n_nationkey * 300 AS DOUBLE) END AS zmin,
                   CASE WHEN n_nationkey % 7 = 0 THEN NULL
                        ELSE CAST(n_nationkey * 300 + 4000 AS DOUBLE) END AS zmax,
                   CASE WHEN n_nationkey % 4 = 0 THEN NULL
                        ELSE CAST(n_nationkey * 31 % 250 AS DOUBLE) END AS zval
            FROM nation)
          SELECT z.zone_id,
                 COUNT(*) AS n,
                 ROUND(SUM(CASE WHEN c_acctbal > COALESCE(zmin, -1e308)
                                 AND c_acctbal < COALESCE(zmax, 1e308)
                                THEN COALESCE(zval, 255.0) ELSE c_acctbal END), 4) AS sum_remap
          FROM customer c JOIN zones z ON c.c_nationkey = z.zone_id
          GROUP BY z.zone_id ORDER BY z.zone_id""",
        "j2_rasterize_attrs": """
          SELECT p.p_brand AS brand, COUNT(*) AS n,
                 ROUND(AVG(p.p_retailprice), 6) AS avg_attr,
                 COUNT(CASE WHEN p.p_size > 25 THEN 1 END) AS n_big
          FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
          GROUP BY p.p_brand ORDER BY brand NULLS FIRST""",
        "j5_knn": """
          WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
               c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
               s AS (SELECT query_id, neighbor_id,
                            list_cosine_similarity(qv, cv) AS score FROM q, c)
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM s) WHERE rank <= 3
          ORDER BY query_id, rank""",
        "j8_routing": """
          SELECT CASE WHEN o_totalprice < 100000 THEN 'low_res' ELSE 'high_res' END AS route,
                 COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
          FROM orders GROUP BY 1 ORDER BY route""",
        "w4_window_rank": """
          SELECT event_id,
                 ROUND(AVG(value) OVER w, 6) AS win_mean,
                 ROUND(MIN(value) OVER w, 6) AS win_min,
                 ROUND(MAX(value) OVER w, 6) AS win_max
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
          ORDER BY event_id""",
        "w3_tumbling": """
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_block,
                 COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_v
          FROM events GROUP BY 1 ORDER BY hour_block""",
        "u1_union_dedup": """
          WITH a AS (SELECT o_orderkey, o_totalprice, 1 AS src FROM orders
                     WHERE o_orderkey % 3 = 0),
               b AS (SELECT o_orderkey, o_totalprice, 2 AS src FROM orders
                     WHERE o_orderkey % 2 = 0),
               u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
          SELECT src, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
          FROM (SELECT o_orderkey, o_totalprice, src,
                       ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src) AS rn
                FROM u) WHERE rn = 1
          GROUP BY src ORDER BY src""",
        "u4_extent_union": """
          SELECT l_suppkey,
                 strftime(MIN(l_shipdate), '%Y-%m-%d') AS t_min,
                 strftime(MAX(l_shipdate), '%Y-%m-%d') AS t_max,
                 ROUND(MIN(l_extendedprice), 4) AS v_min,
                 ROUND(MAX(l_extendedprice), 4) AS v_max
          FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",
        "f10_date_scale": """
          SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
                 CAST(date_part('day', last_day(o_orderdate)) AS BIGINT) * 86400 AS month_seconds,
                 ROUND(SUM(o_totalprice) / (CAST(date_part('day', last_day(o_orderdate)) AS BIGINT) * 86400), 6) AS price_per_sec
          FROM orders GROUP BY 1, 2 ORDER BY month""",
        "f17_json": """
          SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
                 COUNT(*) AS n, ROUND(AVG(value), 6) AS mean_v
          FROM events GROUP BY 1 ORDER BY k_mod""",
        "grid_cell_encode": f"""
          WITH pts AS (
            SELECT c_custkey,
                   CAST(c_custkey * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon,
                   CAST(c_custkey * 104729 % 17000 AS DOUBLE) / 100.0 - 85.0 AS lat
            FROM customer)
          SELECT c_custkey,
                 {grid.encode_sql('lon', 'lat', 9, 'duckdb')} AS cell,
                 (((({grid.encode_sql('lon', 'lat', 9, 'duckdb')} >> 4) >> 10) << 4) | 4) AS parent_cell
          FROM pts ORDER BY c_custkey""",
        "spatial_bbox_join": """
          WITH pts AS (
            SELECT c_custkey,
                   CAST(c_custkey * 7919 % 36000 AS DOUBLE) / 100.0 - 180.0 AS x,
                   CAST(c_custkey * 104729 % 17000 AS DOUBLE) / 100.0 - 85.0 AS y
            FROM customer),
          boxes AS (
            SELECT s_suppkey,
                   CAST(s_suppkey * 337 % 30000 AS DOUBLE) / 100.0 - 170.0 AS xmin,
                   CAST(s_suppkey * 733 % 14000 AS DOUBLE) / 100.0 - 80.0 AS ymin
            FROM supplier)
          SELECT b.s_suppkey, COUNT(*) AS n_pts,
                 CAST(MIN(p.c_custkey) AS BIGINT) AS first_pt
          FROM boxes b JOIN pts p
            ON p.x >= b.xmin AND p.x < b.xmin + 8.0
           AND p.y >= b.ymin AND p.y < b.ymin + 8.0
          GROUP BY b.s_suppkey ORDER BY b.s_suppkey""",
        "dedup_exact": """
          SELECT canonical_id, n_dups FROM (
            SELECT md5(text) AS h, MIN(doc_id) AS canonical_id,
                   COUNT(*) AS n_dups
            FROM documents GROUP BY md5(text))
          WHERE n_dups > 1 ORDER BY canonical_id""",
        "dedup_bloom": f"""
          WITH corpus AS (
            SELECT doc_id, {_dedup.bow_fingerprint_sql('text')} AS k
            FROM documents WHERE source <> 'src0'),
          batch AS (
            SELECT {_dedup.bow_fingerprint_sql('text')} AS k
            FROM documents WHERE source = 'src0'),
          setbits AS (
            SELECT DISTINCT p FROM batch,
              unnest([{', '.join(_dedup.bloom_positions_sql('k', 1 << 16, 5))}]) t(p)),
          cp AS (
            SELECT doc_id, k, p FROM corpus,
              unnest([{', '.join(_dedup.bloom_positions_sql('k', 1 << 16, 5))}]) t(p)),
          surv AS (
            SELECT doc_id, k FROM cp LEFT JOIN setbits ON cp.p = setbits.p
            GROUP BY doc_id, k
            HAVING COUNT(*) FILTER (setbits.p IS NOT NULL) = 5)
          SELECT doc_id,
                 EXISTS (SELECT 1 FROM batch b WHERE b.k = surv.k)
                   AS is_true_match
          FROM surv ORDER BY doc_id""",
        "dedup_minhash_lsh": f"""
          WITH sigs AS ({sig_cte}),
          bands AS ({bands_union}),
          pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
          SELECT id_a, id_b, COUNT(*) AS n_shared_bands
          FROM pairs GROUP BY id_a, id_b ORDER BY id_a, id_b""",
        "dedup_simhash": """
          WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
          hb AS (
            SELECT doc_id, b,
                   SUM(CASE WHEN (md5_number_upper(tok) >> b) & 1 = 1
                            THEN 1 ELSE -1 END) AS acc
            FROM toks, generate_series(0, 63) t(b)
            GROUP BY 1, 2),
          parts AS (
            -- 32-bit halves: 1<<63 overflows BIGINT; recombine in HUGEINT
            SELECT doc_id,
                   SUM(CASE WHEN acc > 0 AND b < 32
                            THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS lo,
                   SUM(CASE WHEN acc > 0 AND b >= 32
                            THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END) AS hi
            FROM hb GROUP BY 1)
          SELECT p.doc_id,
                 CASE WHEN d.text IS NULL OR d.text = '' THEN 0
                      ELSE CAST(CASE WHEN hi >= 2147483648
                                THEN (hi - 4294967296) * 4294967296 + lo
                                ELSE hi * 4294967296 + lo END AS BIGINT)
                 END AS sh
          FROM parts p JOIN documents d ON p.doc_id = d.doc_id
          ORDER BY p.doc_id""",
        "text_langid": f"""
          SELECT lang, {_text.lang_id_sql('text')} AS lang_pred, COUNT(*) AS n
          FROM documents GROUP BY 1, 2 ORDER BY lang, lang_pred""",
        "text_tokens": f"""
          SELECT lang, COUNT(*) AS n,
                 CAST(SUM({_text.token_count_bpe_sql('text')}) AS BIGINT) AS sum_bpe,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_ws
          FROM documents GROUP BY lang ORDER BY lang""",
        "text_tokens_merged": f"""
          SELECT lang, COUNT(*) AS n,
                 CAST(SUM({_text.token_count_merged_sql('text')}) AS BIGINT) AS sum_merged,
                 CAST(SUM({_text.token_count_bpe_sql('text')}) AS BIGINT) AS sum_pre
          FROM documents GROUP BY lang ORDER BY lang""",
        "text_pii": f"""
          WITH inj AS (
            SELECT doc_id, (text ||
              CASE WHEN doc_id % 3 = 0 THEN ' mail user'
                || CAST(doc_id AS VARCHAR) || '@ex-ample.org now'
                ELSE '' END ||
              CASE WHEN doc_id % 5 = 1 THEN ' call 415-555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END ||
              CASE WHEN doc_id % 7 = 2 THEN ' host 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.17 up'
                ELSE '' END ||
              CASE WHEN doc_id % 11 = 3 THEN ' ssn 078-05-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END) AS itext
            FROM documents),
          s AS (SELECT doc_id, {', '.join(_text.pii_sql('itext'))} FROM inj)
          SELECT doc_id, n_email, n_ssn, n_ipv4, n_phone,
                 md5(scrubbed) AS scrub_md5
          FROM s ORDER BY doc_id""",
        "text_chunks": (
            _text.chunk_tokens_sql("documents", max_tokens=32, overlap=8)
            + " ORDER BY doc_id, chunk_idx"),
        "text_pack": (
            _sampling.pack_sql("documents", "n_chars", 4096, "doc_id", 31,
                               "doc_id", n_buckets=4)
            + " ORDER BY doc_id"),
        "text_pack_export": (
            _sampling.pack_export_sql("documents", "text", 64, "doc_id", 37,
                                      n_buckets=4)
            + " ORDER BY pack_bucket, pack_bin"),
        "text_unigram_ppl": (
            _text.unigram_nll_sql("documents") + " ORDER BY doc_id"),
        "text_quality": f"""
          WITH q AS (SELECT source, {_text.quality_sql('text')} FROM documents)
          SELECT source, COUNT(*) AS n,
                 ROUND(AVG(n_tokens), 6) AS avg_tokens,
                 ROUND(AVG(punct_ratio), 6) AS avg_punct
          FROM q GROUP BY source ORDER BY source""",
        "text_fingerprint": f"""
          SELECT canonical_id, n FROM (
            SELECT {_text.fingerprint_sql('text')} AS fp,
                   MIN(doc_id) AS canonical_id, COUNT(*) AS n
            FROM documents GROUP BY 1)
          WHERE n > 1 ORDER BY canonical_id""",
        "dedup_ingest": f"""
          WITH d AS (
            SELECT doc_id, lang,
                   CAST(substr(source, 4) AS INT) % 3 AS bidx,
                   md5({_dedup.bow_fingerprint_sql('text')}) AS h
            FROM documents),
          r AS (
            SELECT doc_id, lang, row_number() OVER (
                PARTITION BY h ORDER BY bidx, doc_id) AS rn
            FROM d)
          SELECT doc_id, lang FROM r WHERE rn = 1 ORDER BY doc_id""",
        "semdedup_corpus": f"""
          WITH comp AS ({_dedup.components_sql('''
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT 300) a
            JOIN (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT 300) b
              ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding, b.embedding)
                    >= 0.4''')}),
          e AS (SELECT vec_id, label FROM embeddings
                ORDER BY vec_id LIMIT 300),
          lab AS (SELECT e.vec_id, e.label,
                         COALESCE(c.component_id, e.vec_id) AS cc
                  FROM e LEFT JOIN comp c ON c.doc_id = e.vec_id),
          keep AS (SELECT cc, MIN(vec_id) AS k FROM lab GROUP BY cc)
          SELECT label, COUNT(*) AS n_kept, CAST(SUM(vec_id) AS BIGINT) AS sum_ids
          FROM lab JOIN keep ON lab.vec_id = keep.k
          GROUP BY label ORDER BY label""",
        "sim_near_dup_pairs": """
          WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150)
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e a JOIN e b ON a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
          ORDER BY id_a, id_b""",
        "sessionize": """
          WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
                          OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events)
          SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
          FROM g GROUP BY user_id ORDER BY user_id""",
        "stream_windowed": """
          SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_block,
                 event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2 ORDER BY hour_block, event_type""",
        # stateful streaming sessionizer: closed sessions = gap-partitioned
        # sessions minus each user's final (still-open-in-state) one
        "stream_sessionize": """
          WITH g AS (
            SELECT user_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                          OR epoch(ts - LAG(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          s AS (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM g),
          agg AS (
            SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id, sid),
          last_s AS (SELECT user_id, MAX(sid) AS last_sid FROM agg GROUP BY user_id)
          SELECT a.user_id,
                 strftime(a.st, '%Y-%m-%d %H:%M:%S') AS s_start,
                 strftime(a.en, '%Y-%m-%d %H:%M:%S') AS s_end,
                 a.n_events
          FROM agg a JOIN last_s l
            ON a.user_id = l.user_id AND a.sid < l.last_sid
          ORDER BY a.user_id, s_start""",
    }
