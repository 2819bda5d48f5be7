"""Round-6 session-5 additions: HLL sketch, compact cover, winnowing,
temperature mixture."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import grid, sketches, text


# ------------------------------------------------------------- HLL ---------

def _mixed_card_df(spark):
    # groups with true cardinalities 50 / 1000 / 20000 (exercises the
    # linear-counting branch AND the raw-estimate branch)
    rows = spark.range(50_000).select(
        F.when(F.col("id") < 5_000, F.lit("small"))
         .when(F.col("id") < 25_000, F.lit("mid"))
         .otherwise(F.lit("big")).alias("grp"),
        F.when(F.col("id") < 5_000, F.col("id") % 50)
         .when(F.col("id") < 25_000, F.col("id") % 1_000)
         .otherwise(F.col("id")).alias("key"))
    return rows


def test_hll_accuracy(spark):
    df = _mixed_card_df(spark)
    est = {r["grp"]: r["est"]
           for r in sketches.hll_distinct(df, "key", ["grp"], p=10).collect()}
    exact = {r["grp"]: r["n"]
             for r in df.groupBy("grp")
             .agg(F.countDistinct("key").alias("n")).collect()}
    for g, n in exact.items():
        # p=10 → 1024 registers → ~1.04/sqrt(m) ≈ 3.3% standard error
        assert abs(est[g] - n) / n < 0.10, (g, est[g], n)


def test_hll_merge_equals_full_build(spark):
    df = _mixed_card_df(spark)
    a = df.filter(F.col("key") % 2 == 0)
    b = df.filter(F.col("key") % 2 == 1)
    ra = sketches.hll_registers(a, "key", ["grp"], p=9)
    rb = sketches.hll_registers(b, "key", ["grp"], p=9)
    merged = sketches.hll_estimate(sketches.hll_merge(ra, rb), ["grp"], p=9)
    full = sketches.hll_distinct(df, "key", ["grp"], p=9)
    ma = {r["grp"]: r["est"] for r in merged.collect()}
    fu = {r["grp"]: r["est"] for r in full.collect()}
    assert ma == fu


def test_hll_register_bound(spark):
    df = _mixed_card_df(spark)
    regs = sketches.hll_registers(df, "key", ["grp"], p=7)
    counts = regs.groupBy("grp").count().collect()
    assert all(r["count"] <= 128 for r in counts)


def test_hll_null_keys_ignored(spark):
    df = spark.range(100).select(
        F.lit("g").alias("grp"),
        F.when(F.col("id") < 50, F.col("id")).alias("key"))
    est = sketches.hll_distinct(df, "key", ["grp"], p=8).collect()[0]["est"]
    assert abs(est - 50) < 10


def test_hll_p_validation(spark):
    df = _mixed_card_df(spark)
    with pytest.raises(ValueError):
        sketches.hll_registers(df, "key", ["grp"], p=6)
    with pytest.raises(ValueError):
        sketches.hll_estimate(df, ["grp"], p=15)


# ------------------------------------------------- compact cover -----------

def _iterative_compact(xmin, ymin, xmax, ymax, res):
    cells = set(grid.cover_bbox(xmin, ymin, xmax, ymax, res).tolist())
    final = set()
    for r in range(res, 0, -1):
        cur = {c for c in cells if (c & 15) == r}
        rest = cells - cur
        from collections import Counter
        par = Counter(int(grid.parent(np.array([c]), r - 1)[0]) for c in cur)
        merged = set()
        for c in cur:
            pp = int(grid.parent(np.array([c]), r - 1)[0])
            (merged.add(pp) if par[pp] == 4 else final.add(c))
        cells = rest | merged
    return final | cells


CASES = [(-77.3, 38.1, -76.2, 39.4, 9), (-10.0, -5.0, 25.0, 30.0, 7),
         (-180.0, -90.0, 180.0, 90.0, 4), (0.01, 0.01, 0.02, 0.02, 12),
         (100.0, 40.0, 100.001, 40.001, 10), (170.0, 60.0, 179.9, 89.9, 6)]


@pytest.mark.parametrize("bbox", CASES)
def test_compact_cover_equals_iterative(bbox):
    got = set(grid.compact_cover_np(*bbox).tolist())
    assert got == _iterative_compact(*bbox)


def test_compact_cover_descendants_tile_exactly():
    bbox = (-10.0, -5.0, 25.0, 30.0, 7)
    comp = grid.compact_cover_np(*bbox)
    cover = set(grid.cover_bbox(*bbox).tolist())
    expanded = []
    for c in comp.tolist():
        r = c & 15
        kids = np.array([c], dtype=np.int64)
        for _ in range(bbox[4] - r):
            kids = np.concatenate([grid.children(int(k)) for k in kids])
        expanded.extend(kids.tolist())
    assert len(expanded) == len(set(expanded)) == len(cover)
    assert set(expanded) == cover


def test_compact_cover_df_matches_np(spark):
    bbox = (-10.0, -5.0, 25.0, 30.0, 7)
    df = grid.compact_cover_df(spark, *bbox)
    got = {r["cell"] for r in df.collect()}
    assert got == set(grid.compact_cover_np(*bbox).tolist())


# -------------------------------------------------------- winnowing --------

def _ref_winnow(doc, k=3, w=4, seed=0xF1B5):
    toks = doc.split(" ")
    n = max(len(toks) - k + 1, 1)
    grams = [" ".join(toks[i:i + k]) for i in range(n)]
    hs = [int(hashlib.md5(f"{g}:{seed}".encode()).hexdigest()[:15], 16)
          for g in grams]
    sel = set()
    for t in range(len(hs)):
        lo = max(0, t - w + 1)
        mh = min(hs[lo:t + 1])
        pos = max(i for i in range(lo, t + 1) if hs[i] == mh)
        sel.add((pos, mh))
    return sel


def test_winnow_matches_reference(spark):
    docs = ["the quick brown fox jumps over the lazy dog again and again",
            "a b", "one two three four five six seven eight nine ten",
            "x x x x x x x x"]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "doc_id long, text string")
    got = {}
    for r in text.winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["h"]))
    for i, d in enumerate(docs):
        assert got[i] == _ref_winnow(d), i


def test_winnow_shared_run_guarantee(spark):
    # two docs sharing a run of >= w+k-1 = 6 words must share a fingerprint
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(0, f"unrelated prefix words here {shared}"),
         (1, f"{shared} and a completely different tail of text")],
        "doc_id long, text string")
    fp = text.winnow_fingerprints(df)
    h0 = {r["h"] for r in fp.filter("doc_id = 0").collect()}
    h1 = {r["h"] for r in fp.filter("doc_id = 1").collect()}
    assert h0 & h1


def test_winnow_density(spark):
    # ~2/(w+1) of grams selected on random-ish text (loose bound)
    words = " ".join(f"w{i * 7919 % 2003}" for i in range(500))
    df = spark.createDataFrame([(0, words)], "doc_id long, text string")
    n_fp = text.winnow_fingerprints(df).count()
    n_grams = 500 - 3 + 1
    assert 0.2 * n_grams < n_fp < 0.7 * n_grams


# ------------------------------------------------ temperature mixture ------

def test_mixture_weights(spark):
    from raster_functions_spark import sampling
    df = spark.createDataFrame(
        [("a", 800), ("a", 200), ("b", 900), ("c", 100)],
        "src string, n long")
    out = {r["domain"]: r for r in
           sampling.mixture_weights(df, "src", "n", tau=0.5,
                                    budget=1000).collect()}
    assert out["a"]["n_weight"] == 1000 and out["b"]["n_weight"] == 900
    p = {d: out[d]["p"] for d in out}
    assert abs(sum(p.values()) - 1.0) < 1e-12
    w = {d: out[d]["w"] for d in out}
    assert abs(sum(w.values()) - 1.0) < 1e-12
    # tau < 1 upsamples the tail: c's weight share must exceed its p share
    assert w["c"] > p["c"] and w["a"] < p["a"]
    assert abs(out["c"]["alloc"] - w["c"] * 1000) < 1e-9
    # tau=1 is proportional
    prop = {r["domain"]: r["w"] for r in
            sampling.mixture_weights(df, "src", "n", tau=1.0).collect()}
    for d in p:
        assert abs(prop[d] - p[d]) < 1e-12
    # tau=0 is uniform
    uni = {r["domain"]: r["w"] for r in
           sampling.mixture_weights(df, "src", "n", tau=0.0).collect()}
    assert all(abs(v - 1 / 3) < 1e-12 for v in uni.values())


def test_compact_cover_df_band_enum_at_scale(spark):
    # the O(perimeter) band enumeration must equal the O(area) reference
    # on a continent-sized box at a finer res (467k rectangle cells)
    bbox = (-60.0, -30.0, 0.0, 30.0, 12)
    got = {r["cell"] for r in grid.compact_cover_df(spark, *bbox).collect()}
    assert got == set(grid.compact_cover_np(*bbox).tolist())


def test_hll_saturated_register(spark):
    # rho can reach q+1 = 54 (p=7) on an all-zero hash word; the scaled
    # register sum must stay a non-negative shift (a 2^q scale would
    # wrap Java's shift to << 63 and poison the sum with Long.MIN_VALUE)
    q = 60 - 7
    regs = spark.createDataFrame(
        [("g", b, q + 1) for b in range(128)], "grp string, bucket long, rho long")
    est = sketches.hll_estimate(regs, ["grp"], p=7).collect()[0]["est"]
    assert est > 0 and est == est  # finite, positive, not NaN


def test_hll_xxhash_mode(spark):
    df = _mixed_card_df(spark)
    est = {r["grp"]: r["est"] for r in
           sketches.hll_distinct(df, "key", ["grp"], p=10,
                                 hashes="xxhash64").collect()}
    exact = {"small": 50, "mid": 1000, "big": 25000}
    for g, n in exact.items():
        assert abs(est[g] - n) / n < 0.10, (g, est[g], n)
    with pytest.raises(ValueError):
        sketches.hll_registers(df, "key", ["grp"], hashes="sha1")


def test_hll_incremental_snapshot(spark, tmp_path):
    from raster_functions_spark.snapshots import SnapshotTable
    df = _mixed_card_df(spark)
    t = SnapshotTable(spark, str(tmp_path / "regs"))
    for b in range(3):
        sketches.hll_commit_batch(t, df.filter(F.col("key") % 3 == b),
                                  "key", ["grp"], p=9, run_id=f"b-{b}")
    cid = t.current_id
    # replayed run_id is a no-op (exactly-once)
    sketches.hll_commit_batch(t, df.filter(F.col("key") % 3 == 1),
                              "key", ["grp"], p=9, run_id="b-1")
    assert t.current_id == cid
    inc = {r["grp"]: r["est"] for r in
           sketches.hll_read_distinct(t, ["grp"], p=9).collect()}
    full = {r["grp"]: r["est"] for r in
            sketches.hll_distinct(df, "key", ["grp"], p=9).collect()}
    assert inc == full
    # rollup rewrites history but preserves the estimate and bounds rows
    pre_rows = t.read().count()
    sketches.hll_rollup_commit(t, ["grp"], run_id="roll")
    assert {r["grp"]: r["est"] for r in
            sketches.hll_read_distinct(t, ["grp"], p=9).collect()} == full
    assert t.read().count() <= pre_rows
    # time travel: estimate as of the first commit covers batch 0 only
    b0 = {r["grp"]: r["est"] for r in
          sketches.hll_read_distinct(t, ["grp"], p=9,
                                     snapshot_id=1).collect()}
    only0 = {r["grp"]: r["est"] for r in
             sketches.hll_distinct(df.filter(F.col("key") % 3 == 0),
                                   "key", ["grp"], p=9).collect()}
    assert b0 == only0


def test_polyfill_compact_matches_numpy_reference(spark):
    from raster_functions_spark import fixtures, spatial
    res = 10
    # AOI 20: two of row 661's crossings fall between the same two cell
    # centres, so its runs [838, 839) and [839, 845) touch and must merge
    rings = [(k, *fixtures.aoi_ring(k)) for k in (0, 1, 20)]
    got = {}
    for r in spatial.polyfill_compact(spark, rings, res).collect():
        got.setdefault(r["aoi_id"], set()).add(r["cell"])
    for k, xs, ys in rings:
        n = 1 << res
        i0, j0 = grid.lonlat_to_ij(float(xs.min()), float(ys.min()), res)
        i1, j1 = grid.lonlat_to_ij(float(xs.max()), float(ys.max()), res)
        ii = np.arange(int(i0), int(i1) + 1)
        jj = np.arange(int(j0), int(j1) + 1)
        gi, gj = np.meshgrid(ii, jj, indexing="ij")
        gi, gj = gi.reshape(-1), gj.reshape(-1)
        lon = (gi + 0.5) / n * 360.0 - 180.0
        lat = (gj + 0.5) / n * 180.0 - 90.0
        inside = spatial.point_in_polygon_np(lon, lat, xs, ys)
        kept = set(grid.ij_to_cell(gi[inside], gj[inside], res).tolist())
        assert kept, k  # fixture sanity: polygons contain cell centers
        # iterative sibling-merge compaction of the kept set
        cells, final = set(kept), set()
        for r in range(res, 0, -1):
            cur = {c for c in cells if (c & 15) == r}
            rest = cells - cur
            from collections import Counter
            par = Counter(int(grid.parent(np.array([c]), r - 1)[0])
                          for c in cur)
            merged = set()
            for c in cur:
                pp = int(grid.parent(np.array([c]), r - 1)[0])
                (merged.add(pp) if par[pp] == 4 else final.add(c))
            cells = rest | merged
        assert got.get(k, set()) == final | cells, k
        # exact tiling: expanding the compact set back to res gives kept
        expanded = []
        for c in got[k]:
            rr = c & 15
            kids = np.array([c], dtype=np.int64)
            for _ in range(res - rr):
                kids = np.concatenate([grid.children(int(x)) for x in kids])
            expanded.extend(kids.tolist())
        assert set(expanded) == kept and len(expanded) == len(kept), k


# ------------------------------------------------ quantile sketch ----------

def test_quantile_sketch_accuracy(spark):
    # uniform-ish values: sketch must land within half a bin width of
    # the exact percentile
    df = spark.range(100_000).select(
        (F.col("id") % 4).alias("grp"),
        ((F.col("id") * 37 % 1000) / F.lit(1.0)).alias("v"))
    got = {r["grp"]: r for r in
           sketches.quantile_sketch(df, "v", ["grp"], [0.5, 0.95],
                                    lo=0.0, hi=1000.0, bins=500).collect()}
    exact = {r["grp"]: r for r in
             df.groupBy("grp").agg(
                 F.expr("percentile(v, 0.5)").alias("p50"),
                 F.expr("percentile(v, 0.95)").alias("p95")).collect()}
    width = 1000.0 / 500
    for g in exact:
        assert abs(got[g]["p50"] - exact[g]["p50"]) <= width, g
        assert abs(got[g]["p95"] - exact[g]["p95"]) <= width, g


def test_quantile_merge_equals_full(spark):
    df = spark.range(50_000).select(
        F.lit("g").alias("grp"), (F.col("id") % 777).cast("double").alias("v"))
    a = df.filter(F.col("id") % 2 == 0)
    b = df.filter(F.col("id") % 2 == 1)
    ra = sketches.quantile_registers(a, "v", ["grp"], 0.0, 800.0, 128)
    rb = sketches.quantile_registers(b, "v", ["grp"], 0.0, 800.0, 128)
    merged = sketches.quantile_estimate(
        sketches.quantile_merge(ra, rb), ["grp"], [0.5, 0.99], 0.0, 800.0, 128)
    full = sketches.quantile_sketch(df, "v", ["grp"], [0.5, 0.99],
                                    0.0, 800.0, 128)
    assert merged.collect() == full.collect()


def test_quantile_clamp_and_validation(spark):
    df = spark.createDataFrame(
        [("g", -5.0), ("g", 0.5), ("g", 99.0), ("g", None)],
        "grp string, v double")
    regs = sketches.quantile_registers(df, "v", ["grp"], 0.0, 10.0, 10)
    rows = {r["bin"]: r["cnt"] for r in regs.collect()}
    assert rows == {0: 2, 9: 1}  # -5 clamps to bin 0, 99 to bin 9, null dropped
    import pytest as _pt
    with _pt.raises(ValueError):
        sketches.quantile_registers(df, "v", ["grp"], 5.0, 5.0)
    with _pt.raises(ValueError):
        sketches.quantile_registers(df, "v", ["grp"], 0.0, 1.0, bins=1)


def test_vocab_top_tokens(spark):
    df = spark.createDataFrame(
        [(0, "en", "a a a b b c"), (1, "en", "a b d"), (2, "fr", "x y x")],
        "doc_id long, lang string, text string")
    out = {(r["lang"], r["rank"]): r for r in
           text.vocab_top_tokens(df, top_n=2).collect()}
    # en: a tf=4 df=2; b tf=3 df=2
    assert out[("en", 1)]["token"] == "a" and out[("en", 1)]["tf"] == 4
    assert out[("en", 1)]["df"] == 2
    assert out[("en", 2)]["token"] == "b" and out[("en", 2)]["tf"] == 3
    assert out[("fr", 1)]["token"] == "x" and out[("fr", 1)]["tf"] == 2
    # tie at tf=1 in fr broken by token: y ranks 2nd
    assert out[("fr", 2)]["token"] == "y"
    import math
    assert abs(out[("en", 1)]["idf"] - (math.log(3 / 3) + 1)) < 1e-12


# ------------------------------------------------------ geodesic kNN -------

def test_knn_geo_exact_vs_brute(spark):
    from raster_functions_spark import spatial
    import pyspark.sql.functions as F2
    ev = spark.range(0, 4000, 7).withColumnRenamed("id", "event_id")
    lat, lon = spatial.lonlat_cols(F2.col("event_id"))
    pts = ev.select(F2.col("event_id").alias("id"),
                    lat.alias("lat"), lon.alias("lon"))
    # small theta0 forces a real grid/fallback split
    out = spatial.knn_geo(pts, k=3, theta0=0.25, max_abs_lat=60.0)
    got = {(r["id"], r["rank"]): (r["nbr"], r["sigma_rad"])
           for r in out.collect()}
    p = pts.toPandas()
    la = np.radians(p["lat"].to_numpy())
    lo = np.radians(p["lon"].to_numpy())
    ids = p["id"].to_numpy()
    n = len(ids)
    assert len(got) == 3 * n
    sp = np.sin((la[None, :] - la[:, None]) / 2)
    sl = np.sin((lo[None, :] - lo[:, None]) / 2)
    h = sp * sp + np.cos(la[:, None]) * np.cos(la[None, :]) * (sl * sl)
    sig = 2 * np.arcsin(np.minimum(1, np.sqrt(h)))
    np.fill_diagonal(sig, np.inf)
    for i in range(n):
        order = np.lexsort((ids, sig[i]))[:3]
        for rank, j in enumerate(order, start=1):
            nbr, s = got[(ids[i], rank)]
            assert nbr == ids[j], (ids[i], rank)
            assert abs(s - sig[i, j]) < 1e-9


def test_knn_geo_fewer_points_than_k(spark):
    from raster_functions_spark import spatial
    pts = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, 11.0, 21.0)], "id long, lat double, lon double")
    out = spatial.knn_geo(pts, k=5, theta0=0.01)
    rows = out.collect()
    assert len(rows) == 2 and all(r["rank"] == 1 for r in rows)
    assert {(r["id"], r["nbr"]) for r in rows} == {(1, 2), (2, 1)}


def test_knn_geo_driver_fallback_guard(spark):
    """r7 (VERDICT r6 #2): an all-sparse corpus with a far-too-small
    theta0 must NOT be toPandas()'d to the driver wholesale. With the
    widening budget spent the guard raises with sizing guidance; with
    auto_widen left on, theta0 escalates geometrically and the result is
    still the exact kNN (same answers as a generous theta0)."""
    import pytest as _pytest
    from raster_functions_spark import spatial
    import pyspark.sql.functions as F2
    ev = spark.range(0, 4000, 7).withColumnRenamed("id", "event_id")
    lat, lon = spatial.lonlat_cols(F2.col("event_id"))
    pts = ev.select(F2.col("event_id").alias("id"),
                    lat.alias("lat"), lon.alias("lon"))
    # theta0 ≈ 0 → essentially every point fails the grid guarantee
    with _pytest.raises(ValueError, match="too sparse|theta0"):
        spatial.knn_geo(pts, k=3, theta0=1e-6, max_abs_lat=60.0,
                        max_fallback=50, auto_widen=0)
    # auto-widen path: exact result survives the escalation
    want = {(r["id"], r["rank"]): r["nbr"]
            for r in spatial.knn_geo(pts, k=3, theta0=0.25,
                                     max_abs_lat=60.0).collect()}
    got = {(r["id"], r["rank"]): r["nbr"]
           for r in spatial.knn_geo(pts, k=3, theta0=0.25 / 16.0,
                                    max_abs_lat=60.0, max_fallback=50,
                                    auto_widen=2).collect()}
    assert got == want


def test_winnow_pairs_guarantee_and_stopfp(spark):
    from raster_functions_spark import text as T
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    boiler = "subscribe to our newsletter now"
    docs = [(0, f"start words here {shared} and more after"),
            (1, f"{shared} completely different ending text")]
    # 60 docs sharing ONLY the boilerplate phrase (df > max_doc_freq)
    docs += [(10 + i, f"unique{i} text body {boiler} tail{i} piece{i}")
             for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
             for r in T.winnow_pairs(df, min_shared=1,
                                     max_doc_freq=50).collect()}
    assert (0, 1) in pairs  # the >= w+k-1 shared-run guarantee
    # the globally-selected boilerplate fingerprint (df=60 > 50) is cut:
    # the filtered pair set must be a strict subset of the unfiltered one
    # (mixed-window boiler selections with df <= 50 legitimately remain)
    allp = {(r["id_a"], r["id_b"]) for r in
            T.winnow_pairs(df, min_shared=1,
                           max_doc_freq=10**9).collect()}
    boiler_all = sum(1 for a, b in allp if a >= 10 and b >= 10)
    boiler_cut = sum(1 for a, b in pairs if a >= 10 and b >= 10)
    assert set(pairs) < allp and boiler_cut < boiler_all


def test_hll_streaming_ingest(spark, tmp_path):
    from raster_functions_spark.snapshots import SnapshotTable
    src = str(tmp_path / "src")
    df = _mixed_card_df(spark)
    # three source files -> availableNow processes them as microbatches
    for b in range(3):
        (df.filter(F.col("key") % 3 == b)
           .write.mode("append").parquet(src))
    t = SnapshotTable(spark, str(tmp_path / "hll"))
    stream = spark.readStream.schema("grp string, key long").parquet(src)
    q = sketches.start_hll_ingest(
        t, stream, "key", ["grp"], str(tmp_path / "ckpt"),
        p=9, rollup_every=2)
    q.awaitTermination(120)
    live = {r["grp"]: r["est"] for r in
            sketches.hll_read_distinct(t, ["grp"], p=9).collect()}
    full = {r["grp"]: r["est"] for r in
            sketches.hll_distinct(df, "key", ["grp"], p=9).collect()}
    assert live == full
    # restart with the same checkpoint: nothing new -> no new commits
    cid = t.current_id
    q2 = sketches.start_hll_ingest(
        t, spark.readStream.schema("grp string, key long").parquet(src),
        "key", ["grp"], str(tmp_path / "ckpt"), p=9)
    q2.awaitTermination(120)
    assert t.current_id == cid


def test_hll_rollups_fold_into_retention_watermark(spark, tmp_path):
    """Rollups fire on the streaming loop's cadence ((batch_id + 1) %
    rollup_every == 0) under contiguous ordinal ids <prefix>-rollup-<k>,
    so expiring them extends the per-prefix watermark: no per-id
    tombstone. Ids stepping by rollup_every (rollup-2, -4, -6) left
    every rollup after the first as an exception tombstone."""
    from raster_functions_spark.snapshots import SnapshotTable
    df = _mixed_card_df(spark)
    t = SnapshotTable(spark, str(tmp_path / "hll"))
    sink = sketches.hll_streaming_sink(t, "key", ["grp"], p=9,
                                       rollup_every=2)
    for b in range(7):
        sink(df.filter(F.col("key") % 7 == b), b)
    ids = [s["run_id"] for s in t.snapshots()]
    assert [i for i in ids if "rollup" in i] == \
        ["hll-rollup-1", "hll-rollup-2", "hll-rollup-3"]
    t.expire_snapshots(keep_last=1)
    assert t._root()["expired_run_ids"] == {}
    live = {r["grp"]: r["est"] for r in
            sketches.hll_read_distinct(t, ["grp"], p=9).collect()}
    full = {r["grp"]: r["est"] for r in
            sketches.hll_distinct(df, "key", ["grp"], p=9).collect()}
    assert live == full


# ------------------------------------------------ shard export (tar) -------

def test_export_shards_tar_roundtrip(spark):
    import io
    import tarfile
    from raster_functions_spark import fixtures, multimodal
    imgs = fixtures.images_df(spark, 30)
    src = {r["image_id"]: (bytes(r["bytes"]), r["fmt"], r["caption"])
           for r in imgs.collect()}
    shards = multimodal.export_shards(imgs, capacity_bytes=1 << 15).collect()
    seen = {}
    for sh in shards:
        tf = tarfile.open(fileobj=io.BytesIO(bytes(sh["tar_bytes"])))
        members = tf.getmembers()
        assert len(members) == 2 * sh["n_items"]
        for m in members:
            seen[m.name] = tf.extractfile(m).read()
        assert sh["payload_bytes"] == sum(
            len(tf.extractfile(m).read()) for m in members)
    # every sample present exactly once, bytes and captions exact
    assert len(seen) == 2 * len(src)
    for iid, (payload, fmt, cap) in src.items():
        assert seen[f"{iid}.{fmt}"] == payload
        assert seen[f"{iid}.txt"] == cap.encode()


def test_export_shards_deterministic(spark):
    from raster_functions_spark import fixtures, multimodal
    a = {(r["pack_bucket"], r["pack_bin"]): r["tar_md5"] for r in
         multimodal.export_shards(fixtures.images_df(spark, 30, 2),
                                  1 << 15).collect()}
    b = {(r["pack_bucket"], r["pack_bin"]): r["tar_md5"] for r in
         multimodal.export_shards(fixtures.images_df(spark, 30, 7),
                                  1 << 15).collect()}
    assert a == b  # shard bytes independent of input partitioning


def test_quantile_incremental_snapshot(spark, tmp_path):
    from raster_functions_spark.snapshots import SnapshotTable
    df = spark.range(30_000).select(
        (F.col("id") % 3).alias("grp"),
        ((F.col("id") * 13 % 900)).cast("double").alias("v"))
    t = SnapshotTable(spark, str(tmp_path / "qregs"))
    for b in range(3):
        sketches.quantile_commit_batch(
            t, df.filter(F.col("id") % 3 == b), "v", ["grp"],
            0.0, 1000.0, 128, run_id=f"b-{b}")
    cid = t.current_id
    sketches.quantile_commit_batch(  # replay no-op
        t, df.filter(F.col("id") % 3 == 1), "v", ["grp"],
        0.0, 1000.0, 128, run_id="b-1")
    assert t.current_id == cid
    inc = sketches.quantile_read(t, ["grp"], [0.5, 0.9], 0.0, 1000.0,
                                 128).collect()
    full = sketches.quantile_sketch(df, "v", ["grp"], [0.5, 0.9],
                                    0.0, 1000.0, 128).collect()
    assert sorted(map(tuple, inc)) == sorted(map(tuple, full))
    pre = t.read().count()
    sketches.quantile_rollup_commit(t, run_id="roll")
    assert sorted(map(tuple, sketches.quantile_read(
        t, ["grp"], [0.5, 0.9], 0.0, 1000.0, 128).collect())) == \
        sorted(map(tuple, full))
    assert t.read().count() <= pre
