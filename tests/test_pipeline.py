import inspect
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_functions_spark import codec, fixtures, grid, lineage, pipeline, spatial


def test_decode_features_fidelity(spark):
    feats = pipeline.decode_features(fixtures.images_df(spark, 200)).toPandas()
    assert len(feats) == 200
    # lossless formats: recomputed phash == stored (hamming 0)
    lossless = feats[feats.fmt != "dct"]
    assert (lossless.phash_ham == 0).all()
    # lossy: within near-dup tolerance
    assert (feats[feats.fmt == "dct"].phash_ham <= 16).all()
    # captions intact
    for _, r in feats.head(20).iterrows():
        i = int(r.image_id[3:])
        assert r.caption == f"caption-{i}-{int(fixtures.splitmix64(i)):016x}"


def test_flagship_end_to_end(spark):
    out = pipeline.flagship(spark, fixtures.images_df(spark, 500),
                            fixtures.aoi_df(spark, 20)).toPandas()
    assert len(out) >= 1
    assert out.n_images.sum() >= 90  # hot cluster guarantees aoi 0 hits ~20%
    assert 0 in out.aoi_id.to_numpy()


def test_entry_contract(spark):
    import sys
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em
    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    qs = em.queries()
    oracles = em.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30 and len(oracles) >= 25
    # the driver's window is DRIVER_WINDOW, not dict-literal order
    assert len(em.DRIVER_WINDOW) == 50 == len(set(em.DRIVER_WINDOW))
    assert list(qs)[:50] == list(em.DRIVER_WINDOW)
    q_fns = {n[2:]: f for n, f in vars(em).items()
             if n.startswith("q_") and inspect.isfunction(f)}
    assert set(qs) == set(q_fns) and len(qs) == 139
    for k, fn in qs.items():
        assert fn.__name__ == f"q_{k}" and fn.__doc__ == q_fns[k].__doc__


def test_scratch_query_materializes_then_removes_dir(spark):
    import __spark_entry__ as em
    seen, schemas = [], []

    def build(tmp):
        seen.append(tmp)
        spark.range(20).withColumn("v", F.col("id") * 3) \
            .write.parquet(tmp + "/t")
        out = spark.read.parquet(tmp + "/t").orderBy("id")
        schemas.append(out.schema)
        return out

    df = em._scratch_query("scratch_test_", build)
    assert not os.path.exists(seen[0])
    assert df.schema == schemas[0]
    assert [(r.id, r.v) for r in df.collect()] == [(i, 3 * i) for i in range(20)]

    def failing(tmp):
        seen.append(tmp)
        open(tmp + "/partial", "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        em._scratch_query("scratch_test_", failing)
    assert not os.path.exists(seen[1])


def test_sum_oracles_return_int64():
    # DuckDB types SUM(BIGINT) as HUGEINT, which pandas reads as float64;
    # the oracles cast back so the dtype matches Spark's LongType
    import duckdb
    import __spark_entry__ as em
    oracles = em.oracle_sql()
    con = duckdb.connect()
    con.sql("CREATE VIEW embeddings AS SELECT * FROM "
            "read_parquet('/root/testdata/sf0.001/embeddings.parquet')")
    assert con.sql(oracles["snap_retention"]).df()["sum_v"].dtype == np.int64
    assert con.sql(oracles["semdedup_corpus"]).df()["sum_ids"].dtype == np.int64


def test_checkpointed_write_resume(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    m1 = lineage.checkpointed_write(df, path, "id", n_buckets=8, run_id="r1")
    assert len(m1["buckets"]) == 8
    got = lineage.read_checkpointed(spark, path)
    assert got.count() == 1000
    # resume: nothing to do, manifest unchanged
    m2 = lineage.checkpointed_write(df, path, "id", n_buckets=8, run_id="r2")
    assert m2 == m1
    # partial manifest → only missing buckets written. The tamper goes
    # through the same Hadoop-FS manifest API the engine uses (writing the
    # file behind the FS's back would leave a stale checksum sidecar —
    # exactly the failure mode the FS-based manifest exists to prevent on
    # S3/HDFS outputs).
    m = lineage._read_manifest(spark, path)
    dropped = m["buckets"].pop("3")
    lineage._write_manifest(spark, path, m)
    m3 = lineage.checkpointed_write(df, path, "id", n_buckets=8, run_id="r3")
    assert m3["buckets"]["3"]["run_id"] == "r3"
    assert m3["buckets"]["3"]["rows"] == dropped["rows"]
    assert m3["buckets"]["3"]["key_checksum"] == dropped["key_checksum"]
    assert lineage.read_checkpointed(spark, path).count() == 1000
    # metrics side table
    mt = lineage.metrics_table(spark, path).toPandas()
    assert mt.rows.sum() == 1000 and len(mt) == 8


def test_flagship_tolerates_corrupt_payloads(spark):
    """Corrupt image bytes must not kill the job: marked phash_ham=-1,
    NaN stats excluded from means, counted in n_bad."""
    import pandas as pd
    from pyspark.sql import functions as F
    from raster_functions_spark import spatial

    pdf = fixtures.images_pdf(np.arange(200))
    # corrupt 10 payloads inside the hot cluster (guaranteed AOI-0 hits)
    hot = pdf.index[np.arange(200) % 5 == 0][:10]
    pdf.loc[hot, "bytes"] = b"\x00garbage"
    images = spark.createDataFrame(pdf, schema=fixtures.IMAGES_SCHEMA)
    out = pipeline.flagship(spark, images, fixtures.aoi_df(spark, 10)).toPandas()
    assert len(out) >= 1
    row0 = out[out.aoi_id == 0].iloc[0]
    assert row0.n_bad >= 1                       # corrupt rows surfaced
    assert np.isfinite(row0.mean_px)             # NaN rows excluded from mean
    assert row0.max_phash_ham >= -1


def test_flagship_clean_run_has_zero_bad(spark):
    out = pipeline.flagship(spark, fixtures.images_df(spark, 300),
                            fixtures.aoi_df(spark, 10)).toPandas()
    assert (out.n_bad == 0).all()


def test_incremental_flagship_matches_batch(spark, tmp_path):
    """The materialized-view flagship: two image microbatches committed as
    snapshot partials merge to the SAME per-AOI stats as one batch run
    over all images (n_cells via cross-batch pair dedup), and a replayed
    batch commit is a no-op."""
    import numpy as np
    from raster_functions_spark import fixtures, pipeline
    from raster_functions_spark.snapshots import SnapshotTable

    images = fixtures.images_df(spark, 400).cache()
    aoi = fixtures.aoi_df(spark, 12)
    full = {r["aoi_id"]: r.asDict()
            for r in pipeline.flagship(spark, images, aoi).collect()}

    src = str(tmp_path / "imgs")
    images.filter("image_id < 'img000000200'").coalesce(1) \
        .write.parquet(src + "/a")
    images.filter("image_id >= 'img000000200'").coalesce(1) \
        .write.parquet(src + "/b")
    stream = (spark.readStream.schema(images.schema)
              .option("maxFilesPerTrigger", 1).parquet(src + "/*"))
    vp = str(tmp_path / "view")
    q = pipeline.start_flagship_incremental(
        stream, aoi, vp, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    # ONE commit per microbatch covering both datasets (atomic view update)
    assert [s["run_id"] for s in SnapshotTable(spark, vp).snapshots()] \
        == ["batch-0", "batch-1"]
    live = {r["aoi_id"]: r.asDict()
            for r in pipeline.current_flagship(spark, vp).collect()}
    assert set(live) == set(full)
    for a in full:
        for col in ("n_images", "n_cells", "max_phash_ham", "n_bad"):
            assert live[a][col] == full[a][col], (a, col)
        for col in ("mean_px", "mean_std"):
            assert abs(live[a][col] - full[a][col]) <= 2e-6, (a, col)
    # replayed commit: no-op
    b0 = images.filter("image_id < 'img000000200'")
    p0 = pipeline._assigned_partials(pipeline.flagship_assigned(spark, b0, aoi))
    SnapshotTable(spark, vp).append_tables(
        {"partials": (p0.withColumn("_vb", F.pmod(F.col("aoi_id"), F.lit(16))
                                    .cast("long")), "_vb")},
        run_id="batch-0")
    live2 = {r["aoi_id"]: r["n_images"]
             for r in pipeline.current_flagship(spark, vp).collect()}
    assert live2 == {a: full[a]["n_images"] for a in full}


def test_broadcast_flagship_runs_at_most_four_jobs(spark, jobs_run):
    """One pass of the broadcast route: the bounded AOI collect, the
    kernel stage, the merge stage and the one-partition ordered tail —
    no separate routing count, no range-partition sample."""
    images = fixtures.images_df(spark, 300)
    aoi = fixtures.aoi_df(spark, 20)
    for _ in range(2):
        rows, n_jobs = jobs_run(
            lambda: pipeline.flagship(spark, images, aoi).collect())
        assert rows and 1 <= n_jobs <= 4, n_jobs


def test_flagship_routes_agree_in_rows_and_order(spark):
    images = fixtures.images_df(spark, 600)
    aoi = fixtures.aoi_df(spark, 60)
    bcast = pipeline.flagship(spark, images, aoi).collect()
    part = pipeline.flagship(spark, images, aoi, broadcast_threshold=10).collect()
    ids = [r.aoi_id for r in bcast]
    assert len(ids) > 1 and ids == sorted(ids)
    assert [r.aoi_id for r in part] == ids
    for b, p in zip(bcast, part):
        for col in ("n_images", "n_cells", "max_phash_ham", "n_bad"):
            assert b[col] == p[col], (b.aoi_id, col)
        for col in ("mean_px", "mean_std"):
            assert b[col] == pytest.approx(p[col], abs=1e-6), (b.aoi_id, col)


def test_broadcast_aoi_limit_bounds_the_collect(spark):
    aoi = fixtures.aoi_df(spark, 12)
    for k in (0, 11):
        assert spatial.broadcast_aoi(spark, aoi, limit=k) is None
    full = spatial.broadcast_aoi(spark, aoi)
    want = full.value
    for k in (12, 13):
        b = spatial.broadcast_aoi(spark, aoi, limit=k)
        got = b.value
        assert set(got) == set(want)
        for key in ("aoi_id", "xmin", "ymin", "xmax", "ymax"):
            assert np.array_equal(got[key], want[key]), key
        assert len(got["rings"]) == len(want["rings"]) == 12
        for (gx, gy), (wx, wy) in zip(got["rings"], want["rings"]):
            assert np.array_equal(gx, wx) and np.array_equal(gy, wy)
        b.unpersist()
    full.unpersist()


def _malformed_containers():
    px = (np.arange(3 * 40 * 40) % 251).astype(np.uint8).reshape(3, 40, 40)
    enc = {f: codec.encode(px, f) for f in ("raw", "rle", "zlib", "dct")}

    def header(fmt=0, dtype=0, bands=1, h=8, w=8):
        return codec._HDR.pack(codec.MAGIC, codec.VERSION, fmt, dtype,
                               bands, h, w, 0)
    return {
        "garbage_8_bytes": b"\x00garbage",
        "empty": b"",
        "bad_magic": b"XX" + enc["raw"][2:],
        "bad_fmt_code": header(fmt=9) + bytes(64),
        "bad_dtype_code": header(dtype=9) + bytes(64),
        "zero_dims": header(h=0) + bytes(64),
        "truncated_raw": enc["raw"][:100],
        "truncated_zlib": enc["zlib"][:60],
        "truncated_rle": enc["rle"][:len(enc["rle"]) // 2],
        "truncated_dct": enc["dct"][:60],
        "huge_dims": header(bands=255, h=2**32 - 1, w=2**32 - 1) + bytes(64),
    }


@pytest.mark.parametrize("case", sorted(_malformed_containers()))
def test_malformed_container_is_marked_bad(case):
    """codec.decode raises ValueError for every malformed container, and
    the flagship kernel (which catches only ValueError) marks the row:
    phash_ham = -1, NaN stats. A good row in the same batch decodes."""
    bad = _malformed_containers()[case]
    with pytest.raises(ValueError):
        codec.decode(bad)
    good = fixtures.images_pdf(np.arange(1))
    pdf = pd.DataFrame({"bytes": [bad, good["bytes"][0]],
                        "phash": [0, good["phash"][0]]})
    mean, std, ham, npx = pipeline._decode_feature_arrays(pdf)
    assert ham[0] == -1 and np.isnan(mean[0]) and np.isnan(std[0])
    assert npx[0] == 0
    assert ham[1] >= 0 and np.isfinite(mean[1]) and npx[1] > 0


@pytest.mark.parametrize("case", ["garbage_8_bytes", "empty", "bad_magic",
                                  "bad_fmt_code", "bad_dtype_code"])
def test_peek_header_rejects_malformed_header(case):
    with pytest.raises(ValueError):
        codec.peek_header(_malformed_containers()[case])


def test_decode_feature_arrays_propagates_other_errors(monkeypatch):
    """Only a malformed container is tolerated: any other error inside
    the per-image loop is a bug and must fail the task."""
    def broken(_):
        raise TypeError("not a container problem")
    monkeypatch.setattr(codec, "decode", broken)
    pdf = fixtures.images_pdf(np.arange(2))
    with pytest.raises(TypeError, match="not a container problem"):
        pipeline._decode_feature_arrays(pdf)


# ------------------------------------------ join before decode (kernel) ----

def _assign_batch_decode_all(pdf, aoi_arrays, cell_res):
    """The decode-every-image kernel body (features for every row, PIP
    last): the reference the join-before-decode body must equal."""
    x = pdf["lon"].to_numpy(np.float64)
    y = pdf["lat"].to_numpy(np.float64)
    cells = grid.encode_np(x, y, cell_res)
    mean, std, ham, _npx = pipeline._decode_feature_arrays(pdf)
    ridx, aid = spatial.pip_assign_np(aoi_arrays, x, y)
    return pd.DataFrame({
        "aoi_id": aid,
        "image_id": pdf["image_id"].to_numpy()[ridx],
        "caption": pdf["caption"].to_numpy()[ridx],
        "cell": cells[ridx],
        "px_mean": mean[ridx], "px_std": std[ridx],
        "phash_ham": ham[ridx],
    })


@pytest.fixture
def decode_calls(monkeypatch):
    """Counts codec.decode calls (the kernel resolves it per call)."""
    calls = []
    real = codec.decode

    def counting(buf):
        calls.append(buf)
        return real(buf)
    monkeypatch.setattr(codec, "decode", counting)
    return calls


@pytest.fixture(scope="module")
def kernel_batch():
    """750 fixture images × 200 AOIs: ~160 distinct assigned images, some
    in two overlapping AOIs; 12 corrupt payloads inside an AOI and 12
    outside every AOI."""
    pdf = fixtures.images_pdf(np.arange(750))
    aoi = spatial.aoi_arrays(fixtures.aoi_pdf(200))
    ridx, _ = spatial.pip_assign_np(aoi, pdf["lon"].to_numpy(np.float64),
                                    pdf["lat"].to_numpy(np.float64))
    inside = np.unique(ridx)
    outside = np.setdiff1d(np.arange(len(pdf)), inside)
    bad_in = inside[::len(inside) // 12][:12]
    bad_out = outside[::len(outside) // 12][:12]
    for i in np.concatenate([bad_in, bad_out]):
        pdf.at[i, "bytes"] = b"\x00garbage-%d" % i
    return pdf, aoi, ridx, bad_in, outside


def test_assign_batch_decodes_only_assigned_images(kernel_batch, decode_calls):
    pdf, aoi, ridx, _, _ = kernel_batch
    assigned = np.unique(ridx)
    assert 0 < assigned.size < len(ridx) < len(pdf)   # overlaps exist
    pipeline._assign_batch(pdf, aoi, 7)
    assert sorted(decode_calls) == sorted(pdf["bytes"].iloc[assigned])


def test_assign_batch_decodes_overlapping_image_once(kernel_batch,
                                                     decode_calls):
    pdf, aoi, ridx, _, _ = kernel_batch
    ids, counts = np.unique(ridx, return_counts=True)
    multi = pdf.iloc[ids[counts > 1]]      # each image in ≥ 2 AOIs
    assert len(multi) > 0
    out = pipeline._assign_batch(multi, aoi, 7)
    assert len(out) == counts[counts > 1].sum()
    assert len(decode_calls) == len(multi)
    feats = ["cell", "px_mean", "px_std", "phash_ham"]
    for _, rows in out.groupby("image_id"):
        assert len(rows) > 1 and rows.aoi_id.is_unique
        got = rows[feats].reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got, got.iloc[[0] * len(got)].reset_index(drop=True),
            check_exact=True)


def test_assign_batch_equals_decode_every_image(kernel_batch):
    pdf, aoi, _, bad_in, _ = kernel_batch
    got = pipeline._assign_batch(pdf, aoi, 7)
    assert set(got.image_id[got.phash_ham == -1]) == set(pdf["image_id"].iloc[bad_in])
    pd.testing.assert_frame_equal(got, _assign_batch_decode_all(pdf, aoi, 7),
                                  check_exact=True)


def test_assign_batch_without_assignment_decodes_nothing(kernel_batch,
                                                         decode_calls):
    pdf, aoi, _, _, outside = kernel_batch
    far = pdf.iloc[outside]     # holds the 12 corrupt payloads outside
    got = pipeline._assign_batch(far, aoi, 7)
    assert decode_calls == []
    cols = [c.split()[0] for c in pipeline._ASSIGNED_SCHEMA.split(", ")]
    assert list(got.columns) == cols and len(got) == 0
    pd.testing.assert_frame_equal(got, _assign_batch_decode_all(far, aoi, 7),
                                  check_exact=True)


def test_seed_batch_synthesizes_only_assigned_images(kernel_batch,
                                                      monkeypatch):
    """The from-seed body makes the pixels of exactly the distinct ids its
    PIP assigns, and returns _assign_batch's rows over every id's image,
    in order."""
    _, aoi, ridx, _, outside = kernel_batch
    ids = np.arange(750)
    made = []
    real = fixtures.images_pdf

    def counting(indices, zlib_level=6):
        made.extend(indices.tolist())
        return real(indices, zlib_level)
    monkeypatch.setattr(fixtures, "images_pdf", counting)
    got = pipeline._seed_batch(ids, aoi, 7)
    assert made == np.unique(ridx).tolist() and len(made) < len(ids)
    want = pipeline._assign_batch(real(ids, zlib_level=3), aoi, 7)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # a batch with no assigned image synthesizes nothing, typed empty rows
    made.clear()
    none = pipeline._seed_batch(ids[outside], aoi, 7)
    assert made == [] and len(none) == 0
    assert list(none.columns) == list(want.columns)


def test_flagship_from_seed_matches_stored_table_route(spark):
    n = 1200
    aoi = fixtures.aoi_df(spark, 60)
    seed = pipeline.flagship_from_seed(spark, n, aoi).collect()
    table = pipeline.flagship(spark, fixtures.images_df(spark, n), aoi).collect()
    ids = [r.aoi_id for r in table]
    assert len(ids) > 1 and [r.aoi_id for r in seed] == ids
    for s, t in zip(seed, table):
        for col in ("n_images", "n_cells", "max_phash_ham", "n_bad"):
            assert s[col] == t[col], (t.aoi_id, col)
        for col in ("mean_px", "mean_std"):
            assert s[col] == pytest.approx(t[col], abs=1e-6), (t.aoi_id, col)
