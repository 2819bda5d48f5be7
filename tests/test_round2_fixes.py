"""Round-2 regression tests: LSH hot-bucket splitting, heat-index
adjustments, zonal-remap background semantics, vectorized flow
accumulation, deterministic random source, distributed cover-res."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import dedup, spatial
from raster_functions_spark.operators import hydro, pointwise, zonal


# ------------------------------------------------- LSH hot buckets ---------

def test_minhash_hot_bucket_split_finds_pairs(spark):
    """A 5000-doc identical-text bucket (all docs share every band) must
    still yield a connected candidate set — the old code silently dropped
    any bucket over 1000 docs, losing exactly the most-duplicated content."""
    n = 5000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated across the crawl").alias("text"))
    pairs = dedup.minhash_lsh_candidates(docs, n_hashes=8, bands=2,
                                         max_bucket=500).toPandas()
    assert len(pairs) > 0
    # connectivity: union-find over the pairs must put all 5000 docs in
    # ONE group (bridges через the canonical doc reconnect sub-buckets)
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for _, r in pairs.iterrows():
        ra, rb = find(int(r.id_a)), find(int(r.id_b))
        if ra != rb:
            parent[ra] = rb
    roots = {find(i) for i in range(n)}
    assert len(roots) == 1, f"dup group fragmented into {len(roots)} components"
    # and no sub-bucket blew past the cap by more than hash-imbalance slack
    assert len(pairs) < n * 600  # quadratic-in-cap, not quadratic-in-n


def test_lsh_bucket_stats_reports_split(spark):
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"), F.lit("same text everywhere").alias("text"))
    from raster_functions_spark.dedup import _MH_A, _MH_B, _polyhash_sql, MINHASH_P
    # rebuild the banded frame the way minhash_lsh_candidates does
    sh = (docs.select(F.col("doc_id").alias("_id"), F.col("text").alias("_t"))
          .select("_id", F.expr("explode(sequence(1, greatest(length(_t) - 4, 1)))").alias("i"), "_t")
          .select("_id", F.expr("substring(_t, i, 5)").alias("s")))
    hashed = sh.select("_id", F.expr(_polyhash_sql("s", 5)).alias("ph"))
    aggs = [F.min(F.expr(f"({a}L * ph + {b}L) % {MINHASH_P}")).alias(f"h{h}")
            for h, (a, b) in enumerate(zip(_MH_A[:8], _MH_B[:8]))]
    sig = hashed.groupBy("_id").agg(*aggs)
    banded = sig.select("_id", F.posexplode(F.array(*[
        F.concat_ws("|", *[F.col(f"h{b * 4 + r}") for r in range(4)])
        for b in range(2)])).alias("band", "bsig"))
    stats = dedup.lsh_bucket_stats(banded, max_bucket=1000).toPandas()
    assert len(stats) == 2  # both bands hot
    assert (stats["n_docs"] == 2000).all()
    assert (stats["n_sub_buckets"] == 2).all()


def test_phash_split_matches_unsplit(spark):
    """With the cap far above bucket sizes, the salted path must produce
    exactly the old (unsplit) pairs; with a tiny cap, the pair set must
    still cover every duplicate id through bridges."""
    pdf = pd.DataFrame({
        "image_id": [f"i{k:03d}" for k in range(40)],
        "phash": [0x1234ABCD5678 if k < 25 else (0x0F0F0F0F0F0F ^ k) for k in range(40)],
    })
    images = spark.createDataFrame(pdf)
    big = dedup.phash_near_dups(images, max_hamming=4, max_bucket=1000).toPandas()
    small = dedup.phash_near_dups(images, max_hamming=4, max_bucket=8).toPandas()
    # the 25 identical hashes give C(25,2)=300 hamming-0 pairs unsplit
    assert len(big[big.hamming == 0]) == 300
    ids_big = set(big.id_a) | set(big.id_b)
    ids_small = set(small.id_a) | set(small.id_b)
    assert ids_small == ids_big  # every duplicated doc still surfaces
    # split output is a subset of the true pair set (plus nothing bogus)
    set_small = set(zip(small.id_a, small.id_b))
    set_big = set(zip(big.id_a, big.id_b))
    assert set_small <= set_big


# ------------------------------------------------- heat index --------------

def test_heat_index_reference_adjustments():
    op = pointwise.heat_index()
    t = np.array([[70.0, 90.0, 96.0, 84.0]], dtype=np.float64)
    r = np.array([[40.0, 10.0, 50.0, 90.0]], dtype=np.float64)
    px = np.stack([t, r])
    out = op.apply(px, {})[0]

    def full(tt, rr):
        return (-42.379 + 2.04901523 * tt + 10.14333127 * rr
                - 0.22475541 * tt * rr - 6.83783e-3 * tt * tt
                - 5.481717e-2 * rr * rr + 1.22874e-3 * tt * tt * rr
                + 8.5282e-4 * tt * rr * rr - 1.99e-6 * tt * tt * rr * rr)

    simple = 0.5 * (t + 61.0 + (t - 68.0) * 1.2 + r * 0.094)
    # col 0: cool → simple formula
    assert np.isclose(out[0, 0], simple[0, 0], atol=1e-4)
    # col 1: hot + RH<13 → low-RH subtraction
    exp = full(90.0, 10.0) - ((13.0 - 10.0) / 4.0) * np.sqrt((17.0 - abs(90.0 - 95.0)) / 17.0)
    assert np.isclose(out[0, 1], exp, atol=1e-4)
    # col 2: hot, mid RH → plain Rothfusz
    assert np.isclose(out[0, 2], full(96.0, 50.0), atol=1e-4)
    # col 3: 80≤T≤87 and RH>85 → high-RH addition
    exp3 = full(84.0, 90.0) + ((84.0 - 85.0) / 10.0) * ((87.0 - 84.0) / 5.0)
    assert np.isclose(out[0, 3], exp3, atol=1e-4)


def test_heat_index_matches_reference_formula_grid():
    """Full regime grid vs a direct vectorized transcription of the
    reference's updatePixels math (HeatIndex.py:85-108): strict > on the
    (simple+T)/2 > 80 gate plus both conditional adjustments."""
    op = pointwise.heat_index()
    t, r = np.meshgrid(np.arange(60.0, 116.0), np.arange(0.0, 101.0, 2.0))
    px = np.stack([t, r])
    out = op.apply(px, {})[0]

    H = 0.5 * (t + 61.0 + ((t - 68.0) * 1.2) + (r * 0.094))
    a = ((H + t) / 2.0) > 80
    full = (-42.379 + 2.04901523 * t + 10.14333127 * r - 0.22475541 * t * r
            - 6.83783e-3 * t * t - 5.481717e-2 * r * r + 1.22874e-3 * t * t * r
            + 8.5282e-4 * t * r * r - 1.99e-6 * t * t * r * r)
    c = a & (r < 13) & (t >= 80.0) & (t <= 112)
    full = np.where(c, full - ((13.0 - r) / 4.0)
                    * np.sqrt(np.maximum(17.0 - np.abs(t - 95.0), 0.0) / 17.0), full)
    c = a & (r > 85) & (t >= 80.0) & (t <= 87)
    full = np.where(c, full + ((t - 85.0) / 10.0) * ((87.0 - t) / 5.0), full)
    ref = np.where(a, full, H)
    assert np.allclose(out, ref, atol=1e-3)


# ------------------------------------------------- zonal remap -------------

def test_zonal_remap_background_matches_reference():
    zones = pd.DataFrame({"zone_id": [1], "zmin": [10.0], "zmax": [20.0],
                          "zval": [99.0]})
    v = np.array([[5.0, 15.0, 25.0]], dtype=np.float64)
    zb = np.array([[1.0, 1.0, 1.0]])
    px = np.stack([v, zb])
    # reference semantics: unmatched → background (ZonalRemap.py:180-181)
    out_bg = zonal.zonal_remap(zones, background=0.0).apply(px, {})[0]
    assert out_bg.tolist() == [[0.0, 99.0, 0.0]]
    # default engine semantics: unmatched → passthrough (documented)
    out_pt = zonal.zonal_remap(zones).apply(px, {})[0]
    assert out_pt.tolist() == [[5.0, 99.0, 25.0]]


def test_zonal_remap_col_background(spark):
    df = spark.createDataFrame(pd.DataFrame({"zone_id": [1, 1], "v": [5.0, 15.0]}))
    zones = spark.createDataFrame(pd.DataFrame(
        {"zone_id": [1], "zmin": [10.0], "zmax": [20.0], "zval": [99.0]}))
    out = (spatial.zonal_remap_col(df, zones, "v", background=0.0)
           .orderBy("v").toPandas())
    assert out["v_remap"].tolist() == [0.0, 99.0]


# ------------------------------------------------- hydro / misc ------------

def test_flow_accumulation_matches_sequential():
    rng = np.random.default_rng(11)
    z = rng.random((50, 41)) * 100
    tgt = hydro._d8_targets(hydro.d8_flow_direction(z))
    acc_ref = np.ones(z.size)
    for i in np.argsort(z.ravel(), kind="stable")[::-1]:
        if tgt[i] >= 0:
            acc_ref[tgt[i]] += acc_ref[i]
    assert np.array_equal(hydro.flow_accumulation(z).ravel(), acc_ref)


def test_random_source_process_independent():
    op = pointwise.random_source(bands=1)
    a = op.apply(np.zeros((1, 4, 4), np.float32), {"image_id": "img42"})
    b = op.apply(np.zeros((1, 4, 4), np.float32), {"image_id": "img42"})
    c = op.apply(np.zeros((1, 4, 4), np.float32), {"image_id": "img43"})
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)
    # golden: the seed derives from md5, not PYTHONHASHSEED-salted hash()
    import hashlib
    from raster_functions_spark.fixtures import splitmix64
    seed = int(splitmix64(np.uint64(int.from_bytes(
        hashlib.md5(b"img42").digest()[:8], "little"))))
    want = np.random.default_rng(seed).random((1, 4, 4)).astype(np.float32)
    assert np.array_equal(a, want)


def test_auto_cover_res_distributed_matches_pandas(spark):
    from raster_functions_spark import fixtures
    pdf = fixtures.aoi_pdf(40)
    spans = np.maximum(pdf["xmax"] - pdf["xmin"], (pdf["ymax"] - pdf["ymin"]) * 2.0)
    res_pd = spatial._res_from_median_span(float(np.median(spans)))
    res_dist = spatial.auto_cover_res_distributed(
        spark.createDataFrame(pdf[["aoi_id", "xmin", "ymin", "xmax", "ymax"]]))
    assert abs(res_dist - res_pd) <= 1  # approxQuantile 1% tolerance
