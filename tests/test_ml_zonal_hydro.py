from contextlib import contextmanager

import numpy as np
import pandas as pd
import pytest

from raster_functions_spark import codec, fixtures
from raster_functions_spark.operators import hydro, ml, zonal


# ------------------------------------------------------------- zonal -------

def test_zonal_remap_pixel_matches_column_semantics():
    zp = fixtures.zones_pdf()
    op = zonal.zonal_remap(zp, value_band=0, zone_band=1)
    vals = np.array([[0.0, 50.0, 120.0, 1000.0]] * 5, dtype=np.float32)
    zones = np.tile(np.arange(1, 6, dtype=np.float32)[:, None], (1, 4))
    out = op.apply(np.stack([vals, zones]), {})[0]
    for zi in range(5):
        zrow = zp[zp.zone_id == zi + 1].iloc[0]
        lo = zrow.zmin if not np.isnan(zrow.zmin) else -np.inf
        hi = zrow.zmax if not np.isnan(zrow.zmax) else np.inf
        for ci, v in enumerate([0.0, 50.0, 120.0, 1000.0]):
            want = (zrow.zval if not np.isnan(zrow.zval) else 255.0) \
                if lo < v < hi else v
            assert out[zi, ci] == np.float32(want), (zi, v)


def test_zonal_remap_unknown_zone_passthrough():
    zp = fixtures.zones_pdf(5)
    op = zonal.zonal_remap(zp)
    px = np.stack([np.full((2, 2), 50.0), np.full((2, 2), 99.0)]).astype(np.float32)
    assert np.allclose(op.apply(px, {})[0], 50.0)


def test_rasterize_attributes_pixel():
    zp = fixtures.zones_pdf()
    op = zonal.rasterize_attributes(zp, ["attr1", "attr2"], zone_band=0)
    zb = np.array([[1, 2], [3, 99]], dtype=np.float32)[None]
    out = op.apply(zb, {})
    assert out.shape == (2, 2, 2)
    assert out[0, 0, 0] == np.float32(1.5)    # zone 1 attr1
    assert out[1, 0, 1] == np.float32(5.0)    # zone 2 attr2
    assert out[0, 1, 1] == np.float32(0.0)    # unknown zone → fill


def test_zonal_statistics_px(spark):
    # two tiles, value band + zone band
    v1 = np.arange(16, dtype=np.float32).reshape(4, 4)
    z1 = np.tile(np.array([1, 1, 2, 2], dtype=np.float32), (4, 1))
    v2 = np.full((4, 4), 10.0, dtype=np.float32)
    z2 = np.full((4, 4), 2.0, dtype=np.float32)
    pdf = pd.DataFrame({"bytes": [codec.encode(np.stack([v1, z1])),
                                  codec.encode(np.stack([v2, z2]))]})
    out = {r.zone: r for r in
           zonal.zonal_statistics_px(spark.createDataFrame(pdf), None).collect()}
    assert out[1].n == 8 and out[2].n == 24
    assert abs(out[1].sum - v1[:, :2].sum()) < 1e-9
    assert out[2].max == 15.0 and out[2].min == 2.0
    assert abs(out[2].sum - (v1[:, 2:].sum() + v2.sum())) < 1e-9


def test_zonal_statistics_px_zone_op_single_pass(spark):
    """With a zone-synthesizing op and meta_cols: per-zone sum/n/min/max
    equal a NumPy replay over the decoded tiles, and the zone op runs
    inside the one partial-aggregate Python pass (no re-encode hop)."""
    from raster_functions_spark import grid
    tile, d, lon0, lat0, res, nz = 16, fixtures.CELL_DEG, 12.3, 45.6, 15, 5
    pdf = fixtures.dem_scene_pdf("z", 3, 2, tile).assign(
        xmin=lambda p: lon0 + p.tx * tile * d, ymax=lambda p: lat0 - p.ty * tile * d)
    meta = ("xmin", "ymax", "cell_dx", "cell_dy")
    zs = zonal.zonal_statistics_px(spark.createDataFrame(pdf),
                                   zonal.zone_band_from_cells(res, nz),
                                   value_band=0, zone_band=1, meta_cols=meta)
    plan = zs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    got = {r.zone: r for r in zs.collect()}

    vals, zones = [], []
    for _, r in pdf.iterrows():
        lon = r.xmin + (np.arange(tile) + 0.5) * r.cell_dx
        lat = r.ymax - (np.arange(tile) + 0.5) * r.cell_dy
        glon, glat = np.meshgrid(lon, lat)
        cells = grid.encode_np(glon.ravel(), glat.ravel(), res)
        zones.append((cells >> grid.RES_BITS) % nz + 1)
        vals.append(codec.decode(bytes(r.bytes))[0].astype(np.float64).ravel())
    v, z = np.concatenate(vals), np.concatenate(zones)
    assert set(got) == set(np.unique(z).tolist()) and len(got) > 1
    for k, row in got.items():
        sel = v[z == k]
        assert row.n == sel.size
        assert row.sum == pytest.approx(sel.sum(), rel=1e-12)
        assert row.mean == pytest.approx(sel.mean(), rel=1e-12)
        assert (row.min, row.max) == (sel.min(), sel.max())


def test_zone_band_from_cells():
    op = zonal.zone_band_from_cells(res=10, n_zones=7)
    px = np.zeros((1, 8, 8), dtype=np.float32)
    meta = {"xmin": 10.0, "ymax": 45.0, "cell_dx": 0.001, "cell_dy": 0.001}
    out = op.apply(px, meta)
    assert out.shape == (2, 8, 8)
    assert set(np.unique(out[1])) <= set(range(1, 8))


# ---------------------------------------------------------------- ML -------

def _blobs(n=60, seed=0):
    rng = np.random.default_rng(seed)
    X0 = rng.normal([0, 0], 0.5, (n, 2))
    X1 = rng.normal([4, 4], 0.5, (n, 2))
    X = np.vstack([X0, X1])
    y = np.array([0] * n + [1] * n)
    return X, y


def test_knn_classifier_separable():
    X, y = _blobs()
    op = ml.knn_classifier(X, y, k=5)
    # tile whose two bands are (x, y) coordinates near each blob center
    px = np.stack([np.array([[0.1, 3.9], [0.2, 4.1]]),
                   np.array([[0.0, 4.0], [-0.1, 3.8]])]).astype(np.float32)
    out = op.apply(px, {})
    assert out[0].tolist() == [[0.0, 1.0], [0.0, 1.0]]


def test_nearest_neighbors_k_bands():
    X, y = _blobs()
    op = ml.nearest_neighbors(X, y, k=3)
    px = np.stack([np.full((2, 2), 4.0), np.full((2, 2), 4.0)]).astype(np.float32)
    out = op.apply(px, {})
    assert out.shape == (3, 2, 2)
    assert (out == 1.0).all()  # all 3 nearest are class-1 points


def test_random_forest_separable_and_deterministic():
    X, y = _blobs(80)
    op1 = ml.random_forest_classifier(X, y, n_trees=8, max_depth=4)
    op2 = ml.random_forest_classifier(X, y, n_trees=8, max_depth=4)
    px = np.stack([np.array([[0.0, 4.0]]), np.array([[0.0, 4.0]])]).astype(np.float32)
    o1, o2 = op1.apply(px, {}), op2.apply(px, {})
    assert np.array_equal(o1, o2)                 # deterministic
    assert o1[0, 0].tolist() == [0.0, 1.0]        # classes
    assert o1[1, 0, 0] >= 0.9                      # confident p(best)


def test_gbt_binary():
    X, y = _blobs(80, seed=3)
    op = ml.gradient_boosted_classifier(X, y, n_rounds=15)
    px = np.stack([np.array([[0.0, 4.0]]), np.array([[0.0, 4.0]])]).astype(np.float32)
    out = op.apply(px, {})
    assert out.shape == (2, 1, 2)
    assert out[0, 0].tolist() == [0.0, 1.0]


def test_seasonal_forecast():
    fit = ml.seasonal_forecast(period=12, horizon=1)
    t = np.arange(36, dtype=np.float64)
    vals = 10.0 + 0.5 * t + 5.0 * np.sin(2 * np.pi * t / 12)
    fc, delta = fit(vals)
    # true next value
    want = 10.0 + 0.5 * 36 + 5.0 * np.sin(2 * np.pi * 36 / 12)
    assert abs(fc - want) < 2.0


# ------------------------------------------------------------- hydro -------

def test_d8_direction_plane():
    yy, xx = np.mgrid[0:8, 0:8]
    z = xx.astype(np.float64)          # slopes down to the west
    d = hydro.d8_flow_direction(z)
    assert (d[:, 1:] == 4).all()       # direction index 4 = West


def test_flow_accumulation_valley():
    # V-shaped valley draining along the center column, sloping south
    yy, xx = np.mgrid[0:8, 0:8]
    z = np.abs(xx - 4).astype(np.float64) * 10 - yy
    acc = hydro.flow_accumulation(z)
    assert acc.sum() >= 64                 # every cell counted at least once
    assert acc[7, 4] == acc.max()          # valley outlet accumulates most
    assert acc[0, 0] == 1.0                # ridge-top corner: only itself


def test_flow_accumulation_conservation():
    rng = np.random.default_rng(5)
    z = rng.random((12, 12)) * 100
    acc = hydro.flow_accumulation(z)
    assert acc.min() >= 1.0
    assert acc.max() <= 144.0


def test_cti_wetter_in_valley():
    yy, xx = np.mgrid[0:16, 0:16]
    z = np.abs(xx - 8).astype(np.float64) * 5 - 0.5 * yy
    cti = hydro.cti_np(z)
    assert cti[10, 8] > cti[10, 2]     # valley floor wetter than hillslope


def test_cti_scene_matches_local(spark):
    df = fixtures.dem_scene_df(spark, "s", 2, 2, 16)
    out = hydro.cti_scene(df, tile=16).toPandas()
    full = fixtures.dem_scene(2, 2, 16).astype(np.float64)
    want = hydro.cti_np(full, 0.001)
    assert len(out) == 4
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        w = want[r.ty * 16:(r.ty + 1) * 16, r.tx * 16:(r.tx + 1) * 16]
        assert np.allclose(got, w, atol=1e-5)


def test_vector_field():
    from raster_functions_spark.operators import pointwise as P
    u = np.full((2, 2), 3.0); v = np.full((2, 2), 4.0)
    out = P.vector_field().apply(np.stack([u, v]).astype(np.float32), {})
    assert np.allclose(out[0], 5.0)
    # wind from southwest (u,v positive) → compass ≈ 216.87 (from-direction)
    assert np.allclose(out[1], (np.degrees(np.arctan2(3, 4)) + 180) % 360)


def test_seasonal_forecast_by_group(spark):
    rows = []
    for g in ("a", "b"):
        base = 10.0 if g == "a" else 100.0
        for t in range(24):
            rows.append((g, t, float(base + t * 0.5 + 3 * np.sin(2 * np.pi * t / 12))))
    df = spark.createDataFrame(rows, "g string, t int, v double")
    out = {r.g: r for r in
           ml.seasonal_forecast_by_group(df, ["g"], "v", "t", period=12).collect()}
    for g, base in (("a", 10.0), ("b", 100.0)):
        want = base + 24 * 0.5 + 3 * np.sin(2 * np.pi * 24 / 12)
        assert abs(out[g].forecast - want) < 1.5, g
        assert out[g].n_obs == 24


@contextmanager
def _arrow_batch_rows(spark, n: int):
    """Cap Arrow batches at ``n`` rows so a group's members span batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _monthly_stack(n_scenes: int = 2, n_t: int = 48, h: int = 6, w: int = 5):
    """Two-band monthly stacks whose band 1 varies per pixel, per scene and
    over time; rows shuffled so only ``t`` orders them."""
    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:h, 0:w]
    stacks, rows = {}, []
    for s in range(n_scenes):
        px = np.stack([np.stack([
            np.full((h, w), t, np.float64),
            50 + 10 * np.sin(2 * np.pi * t / 12 + 0.3 * xx) + 0.2 * t * (1 + yy)
            + 3 * np.cos(0.7 * yy + 1.3 * xx + s) + rng.normal(0, 0.5, (h, w))])
            for t in range(n_t)]).astype(np.float32)
        stacks[f"s{s}"] = px
        rows += [{"scene_id": f"s{s}", "t": t, "bytes": codec.encode(px[t], "zlib")}
                 for t in range(n_t)]
    return stacks, pd.DataFrame(rows).sample(frac=1, random_state=3)


def test_sarima_deltas_match_numpy_replay(spark):
    """Both SARIMA delta composites, with each scene's 48 members spread
    over 5-row Arrow batches, equal a NumPy replay through
    sarima_forecast_batch byte for byte, n_obs included."""
    from raster_functions_spark.raster import tile_row
    stacks, pdf = _monthly_stack()
    with _arrow_batch_rows(spark, 5):
        df = spark.createDataFrame(pdf)
        got_stack = {r.scene_id: r for r in ml.sarima_stack_delta(
            df, period=12, horizon=6, value_band=1).collect()}
        # data from 1990, train 1991..1993, predict Jun 1996 against Jun 1995
        got_tmpl = {r.scene_id: r for r in ml.sarima_template_delta(
            df, 1990, 1991, 1994, 1996, 6, seasonal_order=(0, 1, 1, 12),
            value_band=1).collect()}
    assert set(got_stack) == set(got_tmpl) == set(stacks)
    for sid, px in stacks.items():
        n_t, _, h, w = px.shape
        Y = px[:, 1].reshape(n_t, -1).T.astype(np.float64)
        assert np.ptp(Y[:, -1]) > 1.0                    # varies in space
        fc = ml.sarima_forecast_batch(Y, 6, 12)[:, -1]
        want = tile_row((fc - Y[:, -1]).reshape(h, w).astype(np.float32), "zlib")
        assert {c: got_stack[sid][c] for c in want} == want, sid
        assert got_stack[sid].n_obs == n_t
        fc = ml.sarima_forecast_batch(Y[:, 12:48], 19, period=12,
                                      seasonal_order=(0, 1, 1))
        want = tile_row((fc[:, 18] - fc[:, 6]).reshape(h, w).astype(np.float32),
                        "zlib")
        assert {c: got_tmpl[sid][c] for c in want} == want, sid
        assert got_tmpl[sid].n_obs == n_t


def test_forecasters_match_their_fit_functions(spark):
    """Both per-group forecasters, over groups spread across 5-row Arrow
    batches (short groups included: the SARIMA naive hold), equal direct
    calls to their fit function on the time-sorted values."""
    rng = np.random.default_rng(2)
    series = {f"g{g}": 20 + 4 * np.sin(np.arange(n) / 2.0) + rng.normal(0, 1, n)
              for g, n in enumerate([9, 31, 40, 64])}
    pdf = pd.DataFrame([(g, t, float(v)) for g, vals in series.items()
                        for t, v in enumerate(vals)], columns=["g", "t", "v"])
    with _arrow_batch_rows(spark, 5):
        df = spark.createDataFrame(pdf.sample(frac=1, random_state=4))
        for by_group, fit in ((ml.sarima_forecast_by_group, ml.sarima_forecast),
                              (ml.seasonal_forecast_by_group, ml.seasonal_forecast)):
            got = {r.g: r for r in by_group(df, ["g"], "v", "t", period=12,
                                            horizon=3).collect()}
            assert set(got) == set(series)
            for g, vals in series.items():
                fc, delta = fit(period=12, horizon=3)(vals)
                assert (got[g].forecast, got[g].delta, got[g].n_obs) == \
                    (fc, delta, len(vals)), (by_group.__name__, g)


def test_training_from_table(spark):
    df = spark.createDataFrame([(1.0, 2.0, 0), (3.0, 4.0, 1)], "f1 double, f2 double, y int")
    X, y = ml.training_from_table(df, ["f1", "f2"], "y")
    assert X.shape == (2, 2) and y.tolist() == [0, 1]


def test_flow_accumulation_distributed_matches_global(spark):
    """The boundary-flow-exchange iteration must equal the single-array
    computation exactly — including flow paths crossing tile borders."""
    from raster_functions_spark.operators.hydro import (
        flow_accumulation, flow_accumulation_distributed)
    tiles_x, tiles_y, tile = 3, 2, 16
    df = fixtures.dem_scene_df(spark, "fa", tiles_x, tiles_y, tile)
    out = flow_accumulation_distributed(df, tile).toPandas()
    full = fixtures.dem_scene(tiles_x, tiles_y, tile).astype(np.float64)
    want = flow_accumulation(full)
    assert len(out) == tiles_x * tiles_y
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        w = want[r.ty * tile:(r.ty + 1) * tile, r.tx * tile:(r.tx + 1) * tile]
        assert np.allclose(got, w), f"tile ({r.tx},{r.ty}) max diff {np.abs(got-w).max()}"


def test_flow_accumulation_distributed_long_path(spark):
    """A single drainage channel snaking across every tile — the worst
    case for iteration count (flow crosses all tile boundaries)."""
    import pandas as pd
    from raster_functions_spark.operators.hydro import (
        flow_accumulation, flow_accumulation_distributed)
    tile, tx_n = 8, 4
    W = tile * tx_n
    yy, xx = np.mgrid[0:tile, 0:W]
    z = (W - xx).astype(np.float64) + 5.0 * np.abs(yy - 4)  # channel at y=4 flowing east
    rows = []
    for tx in range(tx_n):
        part = z[:, tx * tile:(tx + 1) * tile].astype(np.float32)
        rows.append({"scene_id": "lp", "tx": tx, "ty": 0,
                     "bytes": codec.encode(part[None])})
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = flow_accumulation_distributed(df, tile).toPandas()
    want = flow_accumulation(z)
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        w = want[:, r.tx * tile:(r.tx + 1) * tile]
        assert np.allclose(got, w), f"tile {r.tx}"
    # the channel outlet accumulates flow from every upstream tile
    assert want[4, -1] == want.max() and want.max() > tile * 2


def test_cti_distributed_matches_scene(spark):
    from raster_functions_spark.operators.hydro import cti_distributed, cti_np
    df = fixtures.dem_scene_df(spark, "cd", 2, 2, 16)
    out = cti_distributed(df, 16, cellsize=0.001).toPandas()
    full = fixtures.dem_scene(2, 2, 16).astype(np.float64)
    want = cti_np(full, 0.001)
    assert len(out) == 4
    for _, r in out.iterrows():
        got = codec.decode(bytes(r["bytes"]))[0]
        w = want[r.ty * 16:(r.ty + 1) * 16, r.tx * 16:(r.tx + 1) * 16]
        # slope crosses a float32 tile boundary between stages → ~2e-4
        assert np.allclose(got, w, atol=1e-3), (r.tx, r.ty)


def test_sarima_d2_recovers_exact_seasonal_quadratic():
    """INDEPENDENT anchor for the ∇s² path (no replay): a series whose
    seasonal second difference is exactly constant (per-month quadratic
    trend in the season index) must be continued exactly by a
    (1,0,0)x(0,2,1,12) fit — the differenced series is constant, so the
    model's forecast reduces to closed-form integration the test computes
    from first principles."""
    import numpy as np
    from raster_functions_spark.operators import ml

    s, n_years, c2 = 12, 12, 0.35
    t = np.arange(s * n_years)
    j, m = t // s, t % s
    a = 5.0 + np.sin(2 * np.pi * m / s)          # per-month level
    b = 0.3 + 0.05 * m                           # per-month slope
    y = a + b * j + c2 * j ** 2                  # ∇s² y == 2*c2 exactly
    horizon = 2 * s
    fc = ml.sarima_forecast_batch(y[None], horizon, period=s,
                                  seasonal_order=(0, 2, 1))[0]
    tt = np.arange(s * n_years, s * n_years + horizon)
    jj, mm = tt // s, tt % s
    want = (5.0 + np.sin(2 * np.pi * mm / s)) + (0.3 + 0.05 * mm) * jj \
        + c2 * jj ** 2
    assert np.allclose(fc, want, rtol=1e-6, atol=1e-6)


def test_sarima_hr_fit_recovers_known_seasonal_ma_process():
    """INDEPENDENT anchor for the Hannan–Rissanen (0,1,1,12) path: series
    simulated from the exact generating process w_t = c + e_t + θ·e_{t-s}
    (w = seasonal difference) with known (c, θ) and small innovations.
    The fitted one-step forecasts must track the true-model forecasts
    (computed from the KNOWN parameters and the TRUE innovations) far
    better than a naive seasonal walk — a math check against the
    generating process, not a replay of the implementation."""
    import numpy as np
    from raster_functions_spark.operators import ml

    rng = np.random.default_rng(123)
    s, n = 12, 30 * 12
    c_true, theta = 0.4, 0.6
    e = rng.normal(0, 0.05, n + s)
    w = c_true + e[s:] + theta * e[:-s]          # seasonal MA(1) + drift
    y = np.zeros(n + s)
    y[:s] = 10.0
    for t in range(s, n + s):
        y[t] = y[t - s] + w[t - s]               # integrate ∇s back
    y = y[s:]
    horizon = s
    fc = ml.sarima_forecast_batch(y[None], horizon, period=s,
                                  seasonal_order=(0, 1, 1))[0]
    # true-model h-step forecast: E[w_{n+h}] = c + θ·e_{n+h-s} for h<=s
    w_fc = c_true + theta * e[s:][n - s:n]
    want = y[-s:] + w_fc
    err_fit = np.abs(fc - want).mean()
    err_naive = np.abs(y[-s:] - want).mean()     # seasonal random walk
    assert err_fit < 0.1                          # absolute closeness
    assert err_fit < err_naive * 0.5              # and beats the naive walk
