import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from raster_functions_spark import fixtures, spatial


def test_pip_np_square():
    rx = np.array([0.0, 10.0, 10.0, 0.0])
    ry = np.array([0.0, 0.0, 10.0, 10.0])
    px = np.array([5.0, -1.0, 10.5, 9.99, 0.01])
    py = np.array([5.0, 5.0, 5.0, 9.99, 0.01])
    got = spatial.point_in_polygon_np(px, py, rx, ry)
    assert got.tolist() == [True, False, False, True, True]


def test_pip_np_concave():
    # star-like concave polygon (arrow pointing right)
    rx = np.array([0.0, 4.0, 2.0, 4.0, 0.0])
    ry = np.array([0.0, 0.0, 2.0, 4.0, 4.0])
    assert spatial.point_in_polygon_np(
        np.array([1.0]), np.array([2.0]), rx, ry)[0]          # inside body
    assert not spatial.point_in_polygon_np(
        np.array([3.5]), np.array([2.0]), rx, ry)[0]          # inside notch


def test_pip_matches_matplotlib_free_oracle():
    """Cross-check against an independent winding-number oracle."""
    rng = np.random.default_rng(0)
    for k in [0, 1, 5, 9]:
        rx, ry = fixtures.aoi_ring(k)
        px = rng.uniform(rx.min() - 1, rx.max() + 1, 500)
        py = rng.uniform(ry.min() - 1, ry.max() + 1, 500)
        got = spatial.point_in_polygon_np(px, py, rx, ry)
        # winding number oracle
        want = np.zeros(500)
        x0, y0 = rx, ry
        x1, y1 = np.roll(rx, -1), np.roll(ry, -1)
        for ex0, ey0, ex1, ey1 in zip(x0, y0, x1, y1):
            up = (ey0 <= py) & (ey1 > py)
            dn = (ey0 > py) & (ey1 <= py)
            cross = (ex1 - ex0) * (py - ey0) - (px - ex0) * (ey1 - ey0)
            want += np.where(up & (cross > 0), 1, 0)
            want -= np.where(dn & (cross < 0), 1, 0)
        assert np.array_equal(got, want != 0), f"aoi {k}"


def _points_df(spark, n=2000):
    idx = np.arange(n)
    lon = np.array([fixtures.tile_lonlat(int(i))[0] for i in idx])
    lat = np.array([fixtures.tile_lonlat(int(i))[1] for i in idx])
    pdf = pd.DataFrame({"pid": idx, "lon": lon, "lat": lat})
    return spark.createDataFrame(pdf), pdf


def _oracle_pairs(pdf, n_aoi):
    pairs = set()
    for k in range(n_aoi):
        rx, ry = fixtures.aoi_ring(k)
        hit = spatial.point_in_polygon_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), rx, ry)
        pairs |= {(int(p), k) for p in pdf["pid"].to_numpy()[hit]}
    return pairs


def test_pip_join_broadcast_matches_oracle(spark):
    df, pdf = _points_df(spark)
    aoi = fixtures.aoi_df(spark, 20)
    got = {(int(r.pid), int(r.aoi_id))
           for r in spatial.pip_join_broadcast(df, aoi).collect()}
    assert got == _oracle_pairs(pdf, 20)
    assert got  # non-trivial


def test_pip_join_routes_on_one_bounded_collect(spark, jobs_run):
    """A broadcast pip_join runs ONE driver job while it is built (the
    bounded AOI collect that both routes and feeds the broadcast) and
    returns the rows of pip_join_broadcast, in the same order."""
    df, _ = _points_df(spark)
    aoi = fixtures.aoi_df(spark, 20)
    for keep in (False, True):
        joined, n_jobs = jobs_run(
            lambda: spatial.pip_join(df, aoi, keep_unmatched=keep))
        assert n_jobs == 1, (keep, n_jobs)
        want = spatial.pip_join_broadcast(df, aoi, keep_unmatched=keep)
        assert joined.collect() == want.collect()


def test_pip_join_partitioned_matches_broadcast(spark):
    df, pdf = _points_df(spark)
    aoi = fixtures.aoi_df(spark, 20)
    got = {(int(r.pid), int(r.aoi_id))
           for r in spatial.pip_join_partitioned(df, aoi).collect()}
    assert got == _oracle_pairs(pdf, 20)


def test_jvm_bbox_cover_equals_polygon_cover_cells(spark):
    """The partitioned join's Column-built cover is polygon_cover_cells per
    AOI, at the coarsest, the auto and a fine resolution; rings on the
    grid's edges (lon ±180, lat ±90: indices clamped) and a zero-width
    ring included."""
    pdf = fixtures.aoi_pdf(30)
    extra = {100: ([179.99, 180.0, 180.0], [89.99, 89.99, 90.0]),
             101: ([-180.0, -179.99, -180.0], [-90.0, -90.0, -89.99]),
             102: ([10.0, 10.0, 10.0], [5.0, 5.5, 6.0])}
    for k, (xs, ys) in extra.items():
        pdf.loc[len(pdf)] = [k, f"aoi-{k}", xs, ys, min(xs), min(ys),
                             max(xs), max(ys)]
    aoi = spark.createDataFrame(pdf, schema=fixtures.AOI_SCHEMA)
    auto = spatial.auto_cover_res_distributed(aoi)
    assert 0 < auto < 12
    for res in (0, auto, 12):
        got = {(r.aoi_id, r._cover_cell)
               for r in spatial._bbox_cover(aoi, res).collect()}
        want = {(int(a), int(c))
                for a, rx, ry in zip(pdf.aoi_id, pdf.ring_x, pdf.ring_y)
                for c in spatial.polygon_cover_cells(rx, ry, res)}
        assert got == want, res


def test_pip_join_keep_unmatched(spark):
    df, pdf = _points_df(spark, 500)
    aoi = fixtures.aoi_df(spark, 5)
    out = spatial.pip_join_broadcast(df, aoi, keep_unmatched=True)
    matched_pids = {int(r.pid) for r in out.where(F.col("aoi_id").isNotNull()).collect()}
    n_rows = out.count()
    # every point appears; unmatched once with null aoi
    assert out.select("pid").distinct().count() == 500
    assert n_rows >= 500
    assert matched_pids == {p for (p, _) in _oracle_pairs(pdf, 5)}


def test_zonal_remap_col(spark):
    zones = fixtures.zones_df(spark)
    df = spark.createDataFrame(
        [(int(z), float(v)) for z in range(1, 6) for v in (0.0, 50.0, 1000.0)],
        "zone_id long, v double")
    out = spatial.zonal_remap_col(df, zones, "v").toPandas()
    zp = fixtures.zones_pdf()
    for _, r in out.iterrows():
        zrow = zp[zp.zone_id == r.zone_id].iloc[0]
        lo = zrow.zmin if not np.isnan(zrow.zmin) else -np.inf
        hi = zrow.zmax if not np.isnan(zrow.zmax) else np.inf
        if lo < r.v < hi:
            want = zrow.zval if not np.isnan(zrow.zval) else 255.0
        else:
            want = r.v
        assert r.v_remap == want, (r.zone_id, r.v)


def test_rasterize_attributes_col(spark):
    zones = fixtures.zones_df(spark)
    df = spark.createDataFrame([(1,), (2,), (99,)], "zone_id long")
    out = spatial.rasterize_attributes_col(df, zones, ["attr1", "attr2"]).toPandas()
    assert len(out) == 3
    assert out[out.zone_id == 1]["attr1"].iloc[0] == 1.5
    assert np.isnan(out[out.zone_id == 99]["attr1"].iloc[0])  # left outer


def test_pip_join_partitioned_keep_unmatched_matches_broadcast(spark):
    """Left-join semantics must survive the broadcast→partitioned routing
    (pre-r5 the partitioned path silently dropped keep_unmatched): the
    partitioned path with an id_col returns the same (id, aoi) multiset —
    including null-aoi unmatched rows — as the broadcast path."""
    pts, _ = _points_df(spark, 400)
    aoi = fixtures.aoi_df(spark, 20)
    id_col = "pid"
    b = {(r[id_col], r["aoi_id"]) for r in
         spatial.pip_join_broadcast(pts, aoi, keep_unmatched=True).collect()}
    p = {(r[id_col], r["aoi_id"]) for r in
         spatial.pip_join_partitioned(pts, aoi, keep_unmatched=True,
                                      id_col=id_col).collect()}
    assert p == b
    assert any(a is None for _, a in p)          # some points truly unmatched
    # without an id the request is refused loudly, never silently dropped
    import pytest as _pt
    with _pt.raises(ValueError, match="id_col"):
        spatial.pip_join_partitioned(pts, aoi, keep_unmatched=True)


def test_zonal_remap_col_multi_interval_no_fanout(spark):
    """A zone with several intervals must yield ONE output row per input
    row (last matching interval in table order wins, reference parity),
    not one per matching interval — the pre-r5 join form duplicated rows."""
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame(
        {"zone_id": [1, 1, 2], "v": [5.0, 15.0, 5.0]}))
    zones = spark.createDataFrame(pd.DataFrame({
        "zone_id": [1, 1, 2],
        "zmin": [0.0, 10.0, None], "zmax": [10.0, 20.0, None],
        "zval": [100.0, 200.0, 7.0]}))
    out = spatial.zonal_remap_col(df, zones, "v").toPandas()
    assert len(out) == 3                                  # no fan-out
    got = {(int(r.zone_id), r.v): r.v_remap for r in out.itertuples()}
    assert got[(1, 5.0)] == 100.0
    assert got[(1, 15.0)] == 200.0
    assert got[(2, 5.0)] == 7.0                           # open interval
