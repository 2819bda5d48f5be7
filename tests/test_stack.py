import numpy as np

from raster_functions_spark import codec, fixtures
from raster_functions_spark.operators import stack as S


def _golden_stack(s, n_times, tile=16):
    return np.stack([codec.decode(bytes(b))
                     for b in fixtures.stack_images_pdf([s], n_times, tile)["bytes"]])


def test_stack_median_composite(spark):
    df = fixtures.stack_images_df(spark, n_scenes=3, n_times=8)
    out = {r["scene_id"]: r for r in
           S.stack_composite(df, "median", fmt_out="raw").collect()}
    for s in range(3):
        got = codec.decode(bytes(out[f"scene{s}"]["bytes"]))
        want = np.median(_golden_stack(s, 8).astype(np.float64), axis=0)
        assert np.allclose(got, want, atol=1e-4)
        assert out[f"scene{s}"]["n_rasters"] == 8


def test_stack_qa_masked_median(spark):
    """Clear-pixel-masked median — LandsatMedianImage semantics."""
    df = fixtures.stack_images_df(spark, n_scenes=2, n_times=12)
    out = {r["scene_id"]: r for r in
           S.stack_composite(df, "median", value_band=0, qa_band=1,
                             clear_values=fixtures.QA_CLEAR_C1,
                             fmt_out="raw").collect()}
    for s in range(2):
        stk = _golden_stack(s, 12).astype(np.float64)
        vals = stk[:, 0]
        clear = np.isin(stk[:, 1], np.asarray(fixtures.QA_CLEAR_C1))
        masked = np.where(clear, vals, np.nan)
        with np.errstate(all="ignore"):
            want = np.nanmedian(masked, axis=0)
        got = codec.decode(bytes(out[f"scene{s}"]["bytes"]))[0]
        assert np.allclose(got, want, atol=1e-4, equal_nan=True)


def test_stack_composite_never_clear_stays_invalid(spark):
    """Pixels with NO clear observation must come out NaN (invalid), not a
    fake 0.0 — the reference's mask model (Reference.py:212-216). A nodata
    sentinel is opt-in."""
    import pandas as pd
    rows = []
    for t in range(4):
        vals = np.full((4, 4), 10.0 + t, np.uint16)
        qa = np.full((4, 4), fixtures.QA_CLEAR_C1[0], np.uint16)
        qa[0, 0] = fixtures.QA_CLOUDY[0]          # pixel (0,0): never clear
        rows.append({"scene_id": "s", "bytes": codec.encode(np.stack([vals, qa]))})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = S.stack_composite(df, "median", qa_band=1,
                            clear_values=fixtures.QA_CLEAR_C1,
                            fmt_out="raw").collect()[0]
    px = codec.decode(bytes(out["bytes"]))[0]
    assert np.isnan(px[0, 0])
    assert np.allclose(px[0, 1:], 11.5)
    # explicit sentinel path
    out2 = S.stack_composite(df, "median", qa_band=1,
                             clear_values=fixtures.QA_CLEAR_C1,
                             nodata=-9999.0, fmt_out="raw").collect()[0]
    px2 = codec.decode(bytes(out2["bytes"]))[0]
    assert px2[0, 0] == -9999.0


def test_stack_percentile(spark):
    df = fixtures.stack_images_df(spark, n_scenes=2, n_times=10)
    out = {r["scene_id"]: r for r in S.stack_percentile(df, 25.0, fmt_out="raw").collect()}
    for s in range(2):
        want = np.percentile(_golden_stack(s, 10).astype(np.float64), 25.0, axis=0)
        got = codec.decode(bytes(out[f"scene{s}"]["bytes"]))
        assert np.allclose(got, want, atol=1e-4)


def test_stack_topk(spark):
    """k-th max of the value band (cap=None: the plain FindSecondMax sort)."""
    df = fixtures.stack_images_df(spark, n_scenes=2, n_times=6)
    for k in (1, 2, 3):
        out = {r["scene_id"]: r for r in
               S.stack_topk_assoc(df, k, fmt_out="raw").collect()}
        for s in range(2):
            srt = np.sort(_golden_stack(s, 6).astype(np.float64)[:, 0], axis=0)
            got = codec.decode(bytes(out[f"scene{s}"]["bytes"]))[0]
            assert np.allclose(got, srt[-k], atol=1e-4), (k, s)
            assert out[f"scene{s}"]["n_rasters"] == 6


def test_stack_topk_assoc_findmax_rule(spark):
    """cap=100 is the FindMax family's rule (FindMax.py:66-84): values above
    the cap become −1 before the sort, a pixel invalid in every member stays
    −1, and with fewer than k members the per-pixel minimum stands in —
    whatever partition each member lands in."""
    import pandas as pd
    rng = np.random.default_rng(7)
    n_by_scene = {"a": 7, "b": 2}                       # b: n < k for k = 3
    stacks, rows = {}, []
    for sid, n in n_by_scene.items():
        v = rng.integers(0, 150, (n, 6, 6)).astype(np.float32)
        v[:, 0, 0] = 120.0                              # above the cap in every member
        v[:, 0, 1] = 100.0                              # at the cap: valid
        stacks[sid] = v
        rows += [{"scene_id": sid, "bytes": codec.encode(v[i][None])}
                 for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(rows)).repartition(3)
    for k in (1, 2, 3):
        out = {r["scene_id"]: r for r in S.stack_topk_assoc(
            df, k, cap=100.0, fmt_out="raw").collect()}
        for sid, v in stacks.items():
            capped = np.where(v > 100.0, -1.0, v.astype(np.float64))
            srt = np.sort(capped, axis=0)
            want = srt[-k] if len(v) >= k else srt[0]
            want = np.where(~(capped != -1.0).any(axis=0), -1.0, want)
            got = codec.decode(bytes(out[sid]["bytes"]))[0]
            assert np.array_equal(got, want.astype(np.float32)), (k, sid)
            assert got[0, 0] == -1.0 and got[0, 1] == 100.0
            assert out[sid]["n_rasters"] == len(v)


def test_stack_outputs_share_the_tile_row_schema(spark):
    """Every stack tile output, the map-side partials included, is
    group cols + TILE_FIELDS + n_rasters; partials stay f8."""
    import pyspark.sql.types as T
    from raster_functions_spark.raster import TILE_FIELDS
    df = fixtures.stack_images_df(spark, n_scenes=2, n_times=4, tile=8)
    want = T.StructType([df.schema["scene_id"]] + TILE_FIELDS
                        + [T.StructField("n_rasters", T.IntegerType())])
    outs = {"composite": S.stack_composite(df, "mean"),
            "percentile": S.stack_percentile(df, 50.0),
            "coalesce": S.stack_coalesce(df, order_col="t"),
            "topk": S.stack_topk_assoc(df, 2),
            "mean_partials": S.mean_partial_tiles(df),
            "mean_merged": S.stack_mean_assoc(df)}
    for name, out in outs.items():
        assert out.schema == want, name
    parts = outs["mean_partials"].collect()
    assert {r["dtype"] for r in parts} == {"f8"}
    assert sum(r["n_rasters"] for r in parts) == 8


def test_percent_above_threshold(spark):
    df = fixtures.stack_images_df(spark, n_scenes=2, n_times=6)
    out = {r["scene_id"]: r for r in
           S.percent_above_threshold(df, 2000.0, value_band=0).collect()}
    for s in range(2):
        stk = _golden_stack(s, 6).astype(np.float64)[:, 0]
        want = 100.0 * float((stk >= 2000.0).mean())
        assert abs(out[f"scene{s}"]["pct"] - want) < 1e-4


def test_percent_above_time_filtered(spark):
    df = fixtures.stack_images_df(spark, n_scenes=1, n_times=12)
    out = S.percent_above_threshold(df, 2000.0, time_col="t",
                                    t_min=3, t_max=8).collect()[0]
    assert out["n_rasters"] == 6
    pdf = fixtures.stack_images_pdf([0], 12)
    sel = pdf[(pdf.t >= 3) & (pdf.t <= 8)]
    stk = np.stack([codec.decode(bytes(b))[0] for b in sel["bytes"]]).astype(np.float64)
    assert abs(out["pct"] - 100.0 * (stk >= 2000).mean()) < 1e-4


def test_stack_stats_decomposable(spark):
    df = fixtures.stack_images_df(spark, n_scenes=2, n_times=5)
    out = {r["scene_id"]: r for r in
           S.stack_stats_decomposable(df, ["scene_id"]).collect()}
    for s in range(2):
        stk = _golden_stack(s, 5).astype(np.float64)[:, 0]
        assert abs(out[f"scene{s}"]["sum"] - stk.sum()) < 1e-6
        assert out[f"scene{s}"]["min"] == stk.min()
        assert out[f"scene{s}"]["max"] == stk.max()


def test_extent_union(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 2.0, 2.0), (1.0, -1.0, 3.0, 1.0)],
        "xmin double, ymin double, xmax double, ymax double")
    r = S.extent_union(df).collect()[0]
    assert (r.xmin, r.ymin, r.xmax, r.ymax) == (0.0, -1.0, 3.0, 2.0)


def test_scene_regression(spark):
    # y = 2x + 1 exactly → slope 2 intercept 1
    rows = [("s", float(x), float(2 * x + 1)) for x in range(10)]
    df = spark.createDataFrame(rows, "scene_id string, x double, y double")
    r = S.scene_regression(df, "x", "y").collect()[0]
    assert abs(r.slope - 2.0) < 1e-9 and abs(r.intercept - 1.0) < 1e-9


def test_composite_identity_invariant(spark):
    """Composite of an identical stack = the tile itself (FIXTURES §4
    property-based invariant)."""
    import pandas as pd
    px = np.arange(64, dtype=np.uint16).reshape(1, 8, 8)
    buf = codec.encode(px, "zlib")
    pdf = pd.DataFrame({"scene_id": ["x"] * 5, "bytes": [buf] * 5})
    df = spark.createDataFrame(pdf)
    for m in ("mean", "median", "min", "max"):
        out = S.stack_composite(df, m, fmt_out="raw").collect()[0]
        got = codec.decode(bytes(out["bytes"]))
        assert np.allclose(got, px), m


def test_grouped_sorted_map_stitches_across_arrow_batches(spark):
    """A group whose rows span multiple Arrow batches must reduce once,
    not once per fragment — forced with a tiny maxRecordsPerBatch and
    groups larger than it; multi-column keys included."""
    import pandas as pd
    import pyspark.sql.types as T
    from raster_functions_spark.operators.stack import grouped_sorted_map
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        rows = [{"a": f"g{i % 5}", "b": i % 2, "v": float(i)}
                for i in range(400)]
        df = spark.createDataFrame(pd.DataFrame(rows)).repartition(3)
        schema = T.StructType([T.StructField("a", T.StringType()),
                               T.StructField("b", T.LongType()),
                               T.StructField("n", T.LongType()),
                               T.StructField("s", T.DoubleType())])

        def fn(key, g):
            return {"a": key[0], "b": key[1], "n": len(g), "s": float(g["v"].sum())}

        out = grouped_sorted_map(df, ["a", "b"], fn, schema).toPandas()
        assert len(out) == 10                      # one row per (a, b)
        want = (pd.DataFrame(rows).groupby(["a", "b"])
                .agg(n=("v", "size"), s=("v", "sum")).reset_index())
        got = out.sort_values(["a", "b"]).reset_index(drop=True)
        want = want.sort_values(["a", "b"]).reset_index(drop=True)
        assert (got["n"] == want["n"]).all()
        assert (got["s"] == want["s"]).all()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_grouped_sorted_map_drops_none_groups(spark):
    """fn may return None for a group (focal assembly does for every halo
    target past the grid edge); those add no rows, the other groups keep
    their values, and all-None output keeps the schema."""
    import pandas as pd
    import pyspark.sql.types as T
    from raster_functions_spark.operators.stack import grouped_sorted_map
    df = spark.createDataFrame(pd.DataFrame({"k": [i % 6 for i in range(60)],
                                             "v": [float(i) for i in range(60)]}))
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("s", T.DoubleType())])

    def fn_some(key, g):
        if key[0] % 2:
            return None
        return {"k": key[0], "s": float(g["v"].sum())}

    got = grouped_sorted_map(df, ["k"], fn_some, schema).toPandas()
    want = {k: float(sum(i for i in range(60) if i % 6 == k)) for k in (0, 2, 4)}
    assert dict(zip(got["k"], got["s"])) == want

    empty = grouped_sorted_map(df, ["k"], lambda key, g: fn_some((1,), g), schema)
    assert empty.schema == schema and empty.count() == 0


def test_grouped_sorted_map_keeps_null_group_keys(spark):
    """applyInPandas keeps a null-key group (dropna is a pandas-ism) —
    grouped_sorted_map must too: null string keys, NaN-containing
    multi-col keys, and a null key forming the trailing run of a batch
    must all be emitted, not silently dropped (round-4 ADVICE)."""
    import pandas as pd
    import pyspark.sql.types as T
    from raster_functions_spark.operators.stack import grouped_sorted_map
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        rows = []
        for i in range(60):
            a = None if i % 4 == 0 else f"g{i % 3}"
            rows.append({"a": a, "v": float(i)})
        schema_in = T.StructType([T.StructField("a", T.StringType()),
                                  T.StructField("v", T.DoubleType())])
        df = spark.createDataFrame(rows, schema_in).repartition(3)
        schema = T.StructType([T.StructField("a", T.StringType()),
                               T.StructField("n", T.LongType()),
                               T.StructField("s", T.DoubleType())])

        def fn(key, g):
            k = key[0]
            k = None if (k is None or (isinstance(k, float) and pd.isna(k))) else k
            return {"a": k, "n": len(g), "s": float(g["v"].sum())}

        out = grouped_sorted_map(df, ["a"], fn, schema).toPandas()
        # reference semantics: groupBy().applyInPandas keeps the null group
        ref = df.groupBy("a").applyInPandas(
            lambda k, g: pd.DataFrame([fn((k[0],), g)]), schema).toPandas()
        key = lambda d: d.assign(a=d["a"].fillna("<null>")).sort_values(
            "a").reset_index(drop=True)
        got, want = key(out), key(ref)
        assert len(got) == 4 and len(want) == 4
        assert (got["n"] == want["n"]).all()
        assert (got["s"] == want["s"]).all()
        # the null group's sum covers all i % 4 == 0 rows
        null_sum = sum(float(i) for i in range(60) if i % 4 == 0)
        assert float(got.loc[got["a"] == "<null>", "s"].iloc[0]) == null_sum
        # a null in a numeric key column arrives as NaN, unequal to itself
        schema_b = T.StructType([T.StructField("b", T.LongType()),
                                 T.StructField("n", T.LongType())])
        bs = [None if i % 4 == 0 else i % 3 for i in range(60)]
        df_b = spark.createDataFrame([(b, float(i)) for i, b in enumerate(bs)],
                                     "b long, v double").repartition(3)
        out_b = grouped_sorted_map(
            df_b, ["b"], lambda k, g: {"b": None if pd.isna(k[0]) else int(k[0]),
                                       "n": len(g)}, schema_b).collect()
        assert {r["b"]: r["n"] for r in out_b} == {b: bs.count(b) for b in set(bs)}
        assert len(out_b) == 4
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_grouped_sorted_map_one_task_per_core(spark):
    """The grouped map's shuffle has defaultParallelism partitions: one
    Python task per core, no second wave."""
    import pandas as pd
    import pyspark.sql.types as T
    from raster_functions_spark.operators.stack import grouped_sorted_map
    df = spark.createDataFrame(pd.DataFrame({"k": list(range(100))}))
    schema = T.StructType([T.StructField("k", T.LongType())])
    out = grouped_sorted_map(df, ["k"], lambda key, g: {"k": key[0]}, schema)
    n = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() == n
    assert sorted(r["k"] for r in out.collect()) == list(range(100))


def test_mean_assoc_qa_nan_value_matches_batch_path(spark):
    """A QA-clear pixel whose VALUE is NaN must be skipped by the
    map-side-combine mean exactly like the batch path (which masks to
    NaN then nanmeans) — the Σ partial must not be poisoned
    (round-4 ADVICE)."""
    import pandas as pd
    rows = []
    for t in range(4):
        vals = np.full((4, 4), 10.0 + t, np.float32)
        qa = np.full((4, 4), float(fixtures.QA_CLEAR_C1[0]), np.float32)
        if t == 1:
            vals[0, 0] = np.nan          # clear but NaN-valued
        if t == 2:
            qa[1, 1] = float(fixtures.QA_CLOUDY[0])
        rows.append({"scene_id": "s",
                     "bytes": codec.encode(np.stack([vals, qa]))})
    df = spark.createDataFrame(pd.DataFrame(rows))
    kw = dict(value_band=0, qa_band=1, clear_values=fixtures.QA_CLEAR_C1,
              fmt_out="raw")
    batch = codec.decode(bytes(
        S.stack_composite(df, "mean", **kw).collect()[0]["bytes"]))[0]
    assoc = codec.decode(bytes(
        S.stack_mean_assoc(df, **kw).collect()[0]["bytes"]))[0]
    assert np.allclose(assoc, batch, equal_nan=True)
    # the NaN-under-clear pixel averages the other three members
    assert np.isclose(batch[0, 0], (10.0 + 12.0 + 13.0) / 3)
    assert np.isclose(assoc[0, 0], (10.0 + 12.0 + 13.0) / 3)


def test_value_band_selects_one_band_with_or_without_qa(spark):
    """An explicit value_band reduces that one band, with or without a QA
    band; None keeps every band without QA and means band 0 with QA."""
    import pandas as pd
    clear = float(fixtures.QA_CLEAR_C1[0])
    rows = [{"scene_id": "s", "bytes": codec.encode(np.stack(
        [np.full((2, 2), t, np.float32), np.full((2, 2), 10 + t, np.float32),
         np.full((2, 2), clear, np.float32)]))} for t in range(3)]
    pdf = pd.DataFrame(rows)

    def median(**kw):
        row = S._reduce_group(("s",), pdf, ["scene_id"], S._MEASURES["median"],
                              "raw", kw.get("value_band"), kw.get("qa_band"),
                              fixtures.QA_CLEAR_C1, None)
        return codec.decode(bytes(row["bytes"]))

    assert median(value_band=1).shape == (1, 2, 2)
    assert np.all(median(value_band=1) == 11)
    assert np.all(median(value_band=1, qa_band=2) == 11)
    assert np.all(median(value_band=None, qa_band=2) == 1)
    every = median(value_band=None)
    assert every.shape == (3, 2, 2)
    assert [float(b[0, 0]) for b in every] == [1.0, 11.0, clear]
    # the public entry point reaches the same rule
    out = S.stack_composite(spark.createDataFrame(pdf), "median",
                            value_band=1, fmt_out="raw").collect()[0]
    assert np.array_equal(codec.decode(bytes(out["bytes"])), median(value_band=1))
