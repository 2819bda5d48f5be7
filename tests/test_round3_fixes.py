"""Round-3 ADVICE fixes: no-broadcast bridge resolution in hash-band LSH,
total-order-correct batch top-k, signature-cache release, SARIMA short-series
oracle parity, linear-tree language ID."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import dedup, similarity, text
from raster_functions_spark.operators import ml
from raster_functions_spark import oracles as orc

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------- hash-band bridge fix ----

def test_simhash_bridges_without_corpus_broadcast(spark):
    """Oversized buckets (max_bucket=2) still connect every duplicate to the
    bucket canonical through bridge pairs — and the plan contains no join at
    all on the bridge path (the canonical's hash rides the size aggregate)."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [(i, base) for i in range(8)]  # 8 identical docs → every bucket hot
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.simhash_near_dups(df, max_hamming=0, max_bucket=2)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    # connectivity: union-find over the pairs must put all 8 in one group
    parent = list(range(8))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(8)}) == 1, pairs
    # every pair is a true dup (hamming 0 here)
    assert all(r.hamming == 0 for r in out.collect())
    # plan shape (r7): _salted_buckets now computes sizes as WINDOW
    # aggregates over (band, bsig) — no size-join, no corpus join/broadcast
    # anywhere in the LSH chain (the r3 bug was a corpus join on _bmin_id)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert not join_lines, join_lines
    assert "+- Window [" in plan, plan[:2000]


def test_phash_near_dups_still_exact(spark):
    pdf = pd.DataFrame({"image_id": [f"i{k}" for k in range(6)],
                        "phash": [10, 10, 10, 10, 11, 1 << 40]})
    out = {(r.id_a, r.id_b): r.hamming
           for r in dedup.phash_near_dups(
               spark.createDataFrame(pdf), max_hamming=1, max_bucket=2).collect()}
    # all four phash=10 images mutually connected (possibly via canonical
    # bridges) and i4 (hamming 1) reachable from the group
    ids = set()
    for a, b in out:
        ids.update((a, b))
    assert {"i0", "i1", "i2", "i3", "i4"} <= ids
    assert not any("i5" in p for p in out)


# ----------------------------------------------- batch top-k tie-breaks ----

def test_brute_force_topk_ties_stable_across_partitioning(spark, tied_corpus):
    """Duplicate embeddings (exact score ties straddling the k boundary)
    must resolve by neighbor_id under ANY partitioning."""
    rows, vec = tied_corpus                             # 10 identical vectors
    queries = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    want = [100, 101, 102]                              # lowest ids win ties
    for nparts in (1, 4, 11):
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>").repartition(nparts)
        got = (similarity.brute_force_topk(corpus, queries, k=3)
               .orderBy("rank").toPandas())
        assert got.neighbor_id.tolist() == want, f"nparts={nparts}: {got}"


def test_brute_force_topk_boundary_tie_survives_batch():
    """NumPy-level check of the batch partial: a candidate tied at the k-th
    score with a smaller id must survive even when argpartition would have
    picked the other one. Exercised through the full operator above; here
    assert the exact-order property on a seeded matrix."""
    rng = np.random.default_rng(7)
    S = np.round(rng.random((3, 50)), 1)                # heavy ties
    nid = rng.permutation(50).astype(np.int64)
    k = 5
    for qi in range(3):
        srow = S[qi]
        cut = np.argpartition(-srow, k - 1)[:k]
        cand = np.flatnonzero(srow >= srow[cut].min())
        sel = cand[np.lexsort((nid[cand], -srow[cand]))[:k]]
        full = np.lexsort((nid, -srow))[:k]
        assert nid[sel].tolist() == nid[full].tolist()


# ------------------------------------------------- signature cache ---------

def test_minhash_no_signature_cache_needed(spark):
    """r7 contract: minhash_lsh_candidates is fully lazy — the window-based
    bucket sizing reads the signature pass once, so nothing is persisted."""
    df = spark.createDataFrame([(i, f"document number {i} text " * 4)
                                for i in range(20)], "doc_id long, text string")
    pairs = dedup.minhash_lsh_candidates(df)
    pairs.count()
    assert getattr(pairs, "signature_cache", None) is None
    # and the plan persists nothing (no InMemoryRelation anywhere)
    assert "InMemoryRelation" not in pairs._jdf.queryExecution().optimizedPlan().toString()


# ------------------------------------------- SARIMA short-series parity ----

def test_sarima_short_group_matches_oracle(spark):
    """A group below the 2·period+2 fit threshold takes the naive-hold branch
    in BOTH the engine and the DuckDB oracle (same rows, same values)."""
    period, horizon = 4, 2
    rows = []
    for g, n in (("long", 2 * period + 6), ("short", period + 1), ("tiny", 2)):
        for t in range(n):
            rows.append((g, t, float((t % period) * 3 + t * 0.5 + (g == "long"))))
    df = spark.createDataFrame(rows, "g string, t int, v double")
    got = (ml.sarima_forecast_by_group(df, ["g"], "v", "t", period=period,
                                       horizon=horizon)
           .select("g", F.round("forecast", 4).alias("forecast"),
                   F.round("delta", 4).alias("delta"), "n_obs")
           .orderBy("g").toPandas())
    con = duckdb.connect()
    con.register("src", pd.DataFrame(rows, columns=["g", "t", "v"]))
    sql = orc.sarima_by_group_sql("SELECT g, t, v FROM src", "g", "v", "t",
                                  period, horizon)
    want = con.sql(sql).df()
    assert got.g.tolist() == want.g.tolist() == ["long", "short", "tiny"]
    assert np.allclose(got.forecast, want.forecast, atol=1e-6)
    assert np.allclose(got.delta, want.delta, atol=1e-6)
    assert got.n_obs.tolist() == want.n_obs.tolist()
    # the short groups really did naive-hold: forecast == last value
    last_short = [r[2] for r in rows if r[0] == "short"][-1]
    assert got[got.g == "short"].forecast.iloc[0] == pytest.approx(last_short)
    assert got[got.g == "short"].delta.iloc[0] == 0.0


# ------------------------------------------- flagship partitioned route ----

def test_flagship_routes_to_partitioned_above_threshold(spark):
    """Above the AOI broadcast threshold the fused flagship must fall back
    to the cell-cover partitioned join (no driver materialization) and
    produce EXACTLY the broadcast path's zonal output — including the
    flagship's own zonal cell column surviving at its resolution."""
    from raster_functions_spark import fixtures, pipeline
    images = fixtures.images_df(spark, 120, partitions=4)
    aoi = fixtures.aoi_df(spark, 12)
    small = pipeline.flagship(spark, images, aoi, broadcast_threshold=10000).toPandas()
    large = pipeline.flagship(spark, images, aoi, broadcast_threshold=5).toPandas()
    assert small.columns.tolist() == large.columns.tolist()
    a = small.sort_values("aoi_id").reset_index(drop=True)
    b = large.sort_values("aoi_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_pip_join_partitioned_preserves_caller_cell(spark):
    """A caller-owned 'cell' column must pass through the partitioned PIP
    join untouched (the join key lives in a private column)."""
    from raster_functions_spark import fixtures, spatial
    pts = (spark.createDataFrame(
        [(i, 10.0 + i * 0.1, 45.0 + i * 0.05, 777000 + i) for i in range(20)],
        "pt_id long, lon double, lat double, cell long"))
    aoi = fixtures.aoi_df(spark, 3)
    out = spatial.pip_join_partitioned(pts, aoi)
    assert "cell" in out.columns and "_cover_cell" not in out.columns
    got = out.select("pt_id", "cell").toPandas()
    assert (got.cell == 777000 + got.pt_id).all()


# ------------------------------------------------ windchill unit matrix ----

def test_windchill_unit_conversions_consistent():
    """The same physical conditions expressed in every supported unit must
    give identical wind chill (reference Windchill.py:101-126 constants)."""
    from raster_functions_spark.operators import pointwise
    t_f, w_mph = -5.0, 20.0
    base = pointwise.windchill()
    px_f = np.array([[[t_f]], [[w_mph]]], np.float64)
    want = base.fn(px_f, {})[0, 0]

    cases = [
        ("k", (t_f + 459.67) / 1.8, "mph", w_mph),
        ("c", (t_f - 32.0) / 1.8, "mph", w_mph),
        ("f", t_f, "m/s", w_mph * 1609.344 / 3600.0),
        ("f", t_f, "kph", w_mph * 1.609344),
        ("f", t_f, "knots", w_mph * 1.15077945),
        ("f", t_f, "ft/s", w_mph * 3600.0 / 5280.0),
    ]
    for tu, tv, wu, wv in cases:
        op = pointwise.windchill(t_units=tu, w_units=wu)
        got = op.fn(np.array([[[tv]], [[wv]]], np.float64), {})[0, 0]
        assert got == pytest.approx(want, abs=1e-4), (tu, wu)
    # output conversions round-trip
    for ou, conv in (("k", lambda f: (f + 459.67) / 1.8),
                     ("c", lambda f: (f - 32.0) / 1.8)):
        op = pointwise.windchill(out_units=ou)
        got = op.fn(px_f, {})[0, 0]
        assert got == pytest.approx(conv(float(want)), abs=1e-4), ou


# ------------------------------------------------- linear-tree lang ID -----

def test_lang_id_frame_equals_column_form(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = (text.lang_id_frame(docs, "text", "lp")
         .select("doc_id", "lp").orderBy("doc_id").toPandas())
    b = (docs.select("doc_id", text.lang_id(F.col("text")).alias("lp"))
         .orderBy("doc_id").toPandas())
    assert (a.lp == b.lp).all()
    assert a.lp.nunique() > 1


def test_lang_id_frame_tiebreak_and_und(spark):
    rows = [(0, "nothing matching here"),
            (1, " the la "),            # en ties es at 1 → en (earlier) wins
            (2, " el el con "),         # es only
            (3, " der und mit die ")]   # de
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dict(text.lang_id_frame(df, "text", "lp")
               .select("doc_id", "lp").collect())
    assert got == {0: "und", 1: "en", 2: "es", 3: "de"}


def test_lang_id_frame_plan_is_linear(spark):
    """The optimized plan must keep the score projection (scores computed
    once), i.e. the final CASE must reference score attributes, not inline
    five copies of the marker counting."""
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    out = text.lang_id_frame(df, "text", "lp")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # count occurrences of the expensive primitive; linear tree ⇒ one
    # replace() per marker (5 langs × 4 markers = 20), the quadratic CASE
    # form inlines hundreds
    assert plan.count("replace(") <= 2 * 20, plan.count("replace(")


# ---------------------------------------------------------- r5 review ----

def test_stack_sum_all_nan_stays_invalid(spark):
    """measure='sum' must honor the never-clear-stays-NaN invariant
    (np.nansum alone returns a fake 0.0 for an all-NaN slice)."""
    import pandas as pd
    from raster_functions_spark import codec, fixtures
    from raster_functions_spark.operators import stack as S
    rows = []
    for t in range(3):
        vals = np.full((4, 4), 5.0, np.float32)
        qa = np.full((4, 4), float(fixtures.QA_CLEAR_C1[0]), np.float32)
        qa[0, 0] = float(fixtures.QA_CLOUDY[0])     # (0,0) never clear
        rows.append({"scene_id": "s",
                     "bytes": codec.encode(np.stack([vals, qa]))})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = S.stack_composite(df, "sum", qa_band=1,
                            clear_values=fixtures.QA_CLEAR_C1,
                            fmt_out="raw").collect()[0]
    px = codec.decode(bytes(out["bytes"]))[0]
    assert np.isnan(px[0, 0])
    assert np.allclose(px[0, 1:], 15.0)


def test_percent_above_open_ended_time_range(spark):
    """t_min without t_max (and vice versa) must filter one-sided, not
    silently drop every row through a null predicate."""
    import pandas as pd
    from raster_functions_spark import codec
    from raster_functions_spark.operators import stack as S
    rows = [{"scene_id": "s", "d": d,
             "bytes": codec.encode(np.full((1, 2, 2), v, np.float32))}
            for d, v in (("2019-06-01", 10.0), ("2020-06-01", 90.0),
                         ("2021-06-01", 90.0))]
    df = spark.createDataFrame(pd.DataFrame(rows))
    lo = S.percent_above_threshold(df, 50.0, time_col="d",
                                   t_min="2020-01-01").collect()[0]
    assert lo["n_rasters"] == 2 and lo["pct"] == 100.0
    hi = S.percent_above_threshold(df, 50.0, time_col="d",
                                   t_max="2019-12-31").collect()[0]
    assert hi["n_rasters"] == 1 and hi["pct"] == 0.0


def test_latitude_source_cell_dy_without_ymin():
    """cell_dy present, ymin absent — the eager dict.get default used to
    raise KeyError('ymin')."""
    from raster_functions_spark.operators import pointwise
    px = np.zeros((1, 4, 4), np.float32)
    out = pointwise.latitude_source().apply(
        px, {"ymax": 45.0, "cell_dy": 0.5})
    assert np.allclose(out[0][:, 0], [44.75, 44.25, 43.75, 43.25])


def test_minhash_and_polyhash_guards(spark):
    from raster_functions_spark import dedup
    import pytest as _pt
    docs = spark.createDataFrame([("a", "some text here")],
                                 ["doc_id", "text"])
    with _pt.raises(ValueError, match="divide"):
        dedup.minhash_lsh_candidates(docs, n_hashes=8, bands=3)
    with _pt.raises(ValueError, match="n_hashes"):
        # since r6 the family extends to 128; beyond that still raises
        dedup.minhash_lsh_candidates(docs, n_hashes=256, bands=4)
    with _pt.raises(ValueError, match="BIGINT"):
        dedup._polyhash_sql("s", 9)


def test_band_masks_pigeonhole_complete():
    """band_masks must cover all 64 bits disjointly with >= max_hamming+1
    bands — the completeness precondition for hash-band LSH."""
    from raster_functions_spark.dedup import band_masks
    for mh, bb in ((3, 16), (8, 16), (10, 16), (8, 8), (20, 16)):
        masks = band_masks(mh, bb)
        assert len(masks) >= mh + 1
        u = np.uint64(0)
        for m in masks:
            mm = np.uint64(m % (1 << 64))
            assert u & mm == 0                      # disjoint
            u |= mm
        assert u == np.uint64(0xFFFFFFFFFFFFFFFF)   # full coverage
