"""Dump physical plans of representative queries and assert the plan
properties the engine is designed around (SURVEY.md §4):

- filter/column pushdown reaches the parquet scan (PushedFilters/ReadSchema)
- small-side joins go broadcast
- cell-encode lives inside WholeStageCodegen (zero Python)
- minhash runs as codegen'd hash aggregation (no interpreted HOFs)
- MinHash, SimHash and phash LSH shuffle the banded table once, under
  one Window, with no join
- per-pixel zonal statistics run their zone op in one Python pass
- a halo-exchange chain scans its tile table once and joins nothing,
  and runs its pointwise ops inside the halo stage's two Python passes
- polyfill plans one MapInPandas and no Exchange; neither it nor the
  compact bbox cover plans a Union
- every reduction that emits one row per group runs on
  ``stack.grouped_sorted_map`` (no FlatMapGroupsInPandas)
- every cosine top-k path scores in one MapInPandas with no candidate
  cross product
- the broadcast flagship scans only its kernel's columns, shuffles twice
  (both hash Exchanges) and orders without a range Exchange
- the partitioned flagship builds its cell cover without Python and joins
  through two shuffled hash joins, broadcasting nothing
- each multimodal payload kernel sends only its kept columns and the
  payload column into its one MapInPandas

Run from anywhere: ``python scripts/explain_audit.py``. Prints one
PASS/FAIL line per assertion (exit status 1 on any FAIL) and writes the
plans to the git-ignored ``.perfbench/explain_audit.txt``, so an audit run
never rewrites tracked files.
"""

from __future__ import annotations

import io
import os
import re as _re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    import __spark_entry__ as em
    from raster_functions_spark.session import get_spark

    spark = get_spark("explain-audit", cores=8, shuffle_partitions=8)
    checks = []
    out = ["# Physical-plan audit (sf0.01)\n"]

    # 1. predicate pushdown on the time-range filter
    p = plan_of(em.q_p8_time_range(spark, SF))
    ok = "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in p
    checks.append(("p8 time-range filter pushed to parquet scan", ok))
    out += ["\n## q_p8_time_range\n", p]

    # 2. column pruning: Q1 scan reads only needed columns
    p = plan_of(em.q_a1_pricing_summary(spark, SF))
    ok = ("ReadSchema" in p and "l_comment" not in p and "l_partkey" not in p)
    checks.append(("a1 scan prunes to needed columns only", ok))
    out += ["\n## q_a1_pricing_summary\n", p]

    # 3. broadcast join for the small zone side
    p = plan_of(em.q_p9_zonal_interval(spark, SF))
    ok = "BroadcastHashJoin" in p or "BroadcastExchange" in p
    checks.append(("p9 zone join is broadcast", ok))
    out += ["\n## q_p9_zonal_interval\n", p]

    # 4. cell-encode is pure codegen projection
    from pyspark.sql import functions as F
    from raster_functions_spark import grid
    df = (spark.read.parquet(f"{SF}/customer.parquet")
          .select(grid.encode_col((F.col("c_custkey") % 360 - 180).cast("double"),
                                  (F.col("c_custkey") % 170 - 85).cast("double"), 9)))
    p = plan_of(df)
    # '*' before an operator marks WholeStageCodegen in formatted explain
    ok = ("* Project" in p and "BatchEvalPython" not in p
          and "MapInPandas" not in p)
    checks.append(("cell-encode inside WholeStageCodegen, no Python", ok))
    out += ["\n## cell_encode projection\n", p]

    # 5. minhash (r7): one vectorized Arrow signature pass, window-based
    # bucket sizing — NO join anywhere in the candidate chain, and no
    # interpreted lambdas (transform HOFs) before the first shuffle
    # (they are allowed only in the tiny post-agg pair-generation stage)
    from raster_functions_spark import dedup
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = p_minhash = plan_of(dedup.minhash_lsh_candidates(docs, n_hashes=64, bands=16))
    hot = p.split("Exchange (")[0]
    ok = ("MapInPandas" in p and "transform(" not in hot
          and "SortAggregate" not in hot
          and "Join" not in p)
    checks.append(("minhash: Arrow signature pass + window sizing, no joins", ok))
    out += ["\n## minhash_lsh_candidates\n", p]

    # 6. bbox join is a hash join on bucket keys, not nested loop
    p = plan_of(em.q_spatial_bbox_join(spark, SF))
    ok = "NestedLoop" not in p
    checks.append(("bbox join avoids BroadcastNestedLoopJoin", ok))
    out += ["\n## q_spatial_bbox_join\n", p]

    # 7. cell-partitioned storage: bbox read prunes partitions (O2)
    import tempfile
    from raster_functions_spark import fixtures, lineage
    with tempfile.TemporaryDirectory() as td:
        imgs = fixtures.images_df(spark, 300).select("image_id", "lon", "lat")
        lineage.write_cell_partitioned(imgs, td, res=3)
        rd = lineage.read_cells(spark, td, (9.0, 44.0, 11.5, 46.5), res=3)
        p = rd._jdf.queryExecution().executedPlan().toString()
        ok = "PartitionFilters: [p_cell" in p.replace("PartitionFilters: [isnotnull(p_cell", "PartitionFilters: [p_cell") \
            or ("PartitionFilters" in p and "p_cell" in p)
        checks.append(("bbox read over cell-partitioned table prunes partitions", ok))
        out += ["\n## cell-partitioned bbox read\n", p[:4000]]

    # 8. bucketed tables co-locate joins: no Exchange on the join key (O12)
    import shutil
    spark.sql("CREATE DATABASE IF NOT EXISTS audit_db")
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    for t in ("audit_db.imgs_b", "audit_db.feats_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/audit_db.db/{t.split('.')[1]}", ignore_errors=True)
    imgs2 = fixtures.images_df(spark, 500).select("image_id", "lon", "lat")
    (imgs2.write.bucketBy(8, "image_id").sortBy("image_id")
     .format("parquet").saveAsTable("audit_db.imgs_b"))
    (imgs2.selectExpr("image_id", "lon * 2 AS feat")
     .write.bucketBy(8, "image_id").sortBy("image_id")
     .format("parquet").saveAsTable("audit_db.feats_b"))
    # disable broadcast so the join exercises the bucketed sort-merge path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined = (spark.table("audit_db.imgs_b")
              .join(spark.table("audit_db.feats_b"), "image_id"))
    p = plan_of(joined)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    ok = "Exchange hashpartitioning" not in p and "SortMergeJoin" in p
    checks.append(("bucketed tables sort-merge join with ZERO shuffle", ok))
    out += ["\n## bucketed co-located join\n", p]

    # 9. every cosine top-k path (brute force, LSH, multi-table LSH, IVF
    # inline and over a prebuilt index) scores in ONE Python pass — the
    # shared GEMM partial top-k kernel: one MapInPandas, no per-row
    # Python UDF, no candidate cross product
    from raster_functions_spark import similarity
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus, queries = emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5)
    with tempfile.TemporaryDirectory(prefix="audit_knn_") as td:
        index, C = similarity.ivf_build(corpus, n_lists=8, index_path=td + "/idx")
        knn_plans = {
            "brute_force_topk": similarity.brute_force_topk(corpus, queries, k=3),
            "lsh_topk": similarity.lsh_topk(corpus, queries, k=3, n_probes=3),
            "lsh_multi_topk": similarity.lsh_multi_topk(corpus, queries, k=3),
            "ivf_topk": similarity.ivf_topk(corpus, queries, k=3, n_lists=8),
            "ivf_search": similarity.ivf_search(index, C, queries, k=3),
        }
        knn_plans = {name: plan_of(df) for name, df in knn_plans.items()}
    ok = all(len(_re.findall(r"\(\d+\) MapInPandas", p)) == 1
             and not any(node in p for node in ("ArrowEvalPython", "BatchEvalPython",
                                                "NestedLoop", "CartesianProduct"))
             for p in knn_plans.values())
    checks.append(("knn top-k paths: one GEMM MapInPandas each, no Python UDF, "
                   "no candidate cross product", ok))
    for name, p in knn_plans.items():
        out += [f"\n## {name}\n", p]

    # 10. every LSH family (MinHash, SimHash, phash) pairs through
    # dedup._band_pairs: the banded table is shuffled ONCE on (band, bsig)
    # — the window that sizes and salts the buckets and the
    # (band, bsig, salt) collect share that partitioning — under ONE
    # Window, and nothing is joined. (Formatted explain prints an
    # Exchange's partitioning on its "Arguments:" line.)
    lsh_plans = {
        "minhash_lsh_candidates": p_minhash,
        "simhash_near_dups": plan_of(dedup.simhash_near_dups(docs)),
        "phash_near_dups": plan_of(dedup.phash_near_dups(fixtures.images_df(spark, 600))),
    }
    ok = all(len(_re.findall(r"Arguments: hashpartitioning\(band#\d+, bsig#", p)) == 1
             and len(_re.findall(r"^\(\d+\) Window$", p, _re.M)) == 1 and "Join" not in p
             for p in lsh_plans.values())
    checks.append(("LSH families (minhash, simhash, phash): one banded shuffle, "
                   "one Window, no join", ok))
    for name in ("simhash_near_dups", "phash_near_dups"):
        out += [f"\n## {name}\n", lsh_plans[name]]

    # 11. SARIMA hourly pre-aggregation keeps partial aggregation, then
    # ONE grouped Python pass (stack.grouped_sorted_map's mapInPandas)
    p = plan_of(em.q_m5_sarima(spark, SF))
    ok = ("HashAggregate" in p and "FlatMapGroupsInPandas" not in p
          and len(_re.findall(r"\(\d+\) MapInPandas", p)) == 1)
    checks.append(("sarima: codegen pre-agg + one grouped MapInPandas", ok))
    out += ["\n## m5_sarima\n", p]

    # 12. flagship above the AOI threshold routes to the cell-cover
    # partitioned join. The routing collect holds at most
    # broadcast_threshold + 1 AOI rows on the driver (spatial.broadcast_aoi
    # with limit=) and, above the threshold, builds no broadcast from them.
    # Over an image table with no Python of its own, the plan runs exactly
    # two Python passes (decode_features and the PIP refine: the cell cover
    # is Column expressions) and two shuffled hash joins (images × cover on
    # the cell, candidates × rings on aoi_id), and broadcasts nothing
    import numpy as np
    from raster_functions_spark import fixtures, pipeline
    imgs_small = spark.createDataFrame(fixtures.images_pdf(np.arange(50)),
                                       schema=fixtures.IMAGES_SCHEMA)
    aoi_many = fixtures.aoi_df(spark, 60)
    p = plan_of(pipeline.flagship(spark, imgs_small, aoi_many,
                                  broadcast_threshold=10))
    ok = (len(_re.findall(r"\(\d+\) MapInPandas", p)) == 2
          and len(_re.findall(r"\(\d+\) ShuffledHashJoin", p)) == 2
          and "BroadcastExchange" not in p
          and "BroadcastNestedLoopJoin" not in p)
    checks.append(("flagship >threshold AOIs: partitioned route, 2 MapInPandas "
                   "(decode, refine), 2 ShuffledHashJoin, no broadcast", ok))
    out += ["\n## flagship_partitioned_route\n", p]

    # 13. snapshot incremental read touches ONLY the files added after the
    # anchor snapshot (manifest-driven file pruning, not a full-table scan
    # plus filter)
    import tempfile
    from raster_functions_spark.snapshots import SnapshotTable
    with tempfile.TemporaryDirectory(prefix="audit_snap_") as tdir:
        st = SnapshotTable(spark, tdir + "/t")
        mk = lambda lo, hi, pv: (spark.range(lo, hi).withColumnRenamed("id", "k")
                                 .withColumn("p", F.lit(pv)))
        st.append(mk(0, 50, 1), "p")
        st.append(mk(50, 80, 2), "p")
        inc = st.read_incremental(since_snapshot_id=1)
        added = set(st.snapshots()[1]["added"])
        files = {f.split("/t/", 1)[1] for f in inc.inputFiles()}
        ok = files == added and inc.count() == 30
        checks.append(("snapshot incremental scan reads only the added files", ok))
        out += ["\n## snapshot_incremental_files\n",
                f"added={sorted(added)}\nscanned={sorted(files)}\n"]

    # 14. IVF ANN: candidates never materialize as join rows — the plan is
    # a single mapInPandas over the corpus scan + the tiny top-k window
    # merge (no Join operator of any kind; round-4 rewrite)
    p = plan_of(em.q_ann_ivf(spark, SF))
    ok = ("Join" not in p and "CartesianProduct" not in p
          and len(_re.findall(r"\(\d+\) MapInPandas", p)) == 1)
    checks.append(("ivf ANN scores in one mapInPandas, no candidate join", ok))
    out += ["\n## q_ann_ivf\n", p]

    # 15. connected components (r6): each star round is equi-join +
    # hash aggregation on the node id — no cartesian/nested-loop join
    # anywhere in a full run's plans, and the per-round work is
    # hash-partitioned (the contraction is shuffle-bounded, not
    # compare-all-pairs)
    pairs_df = (spark.range(0, 2000)
                .select((F.col("id") % 997).alias("id_a"),
                        ((F.col("id") * 7) % 997).alias("id_b"))
                .filter(F.col("id_a") != F.col("id_b")))
    star = dedup._star_edges(pairs_df.select(F.col("id_a").alias("a"),
                                             F.col("id_b").alias("b")),
                             large=True)
    p = plan_of(star)
    ok = ("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
          and "HashAggregate" in p)
    checks.append(("components star round: hash equi-join + hash agg, no cross product", ok))
    out += ["\n## components_star_round\n", p]

    # 16. snapshot-backed IVF search (r6): the manifest-level
    # partition_values pruning means the scan's input files are a strict
    # subset of the index's live files when probing few lists
    from raster_functions_spark import similarity as _sim
    with tempfile.TemporaryDirectory(prefix="audit_ivf_") as idx_dir:
        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        _sim.ivf_build_snapshot(emb.filter(F.col("vec_id") >= 5),
                                idx_dir + "/i", n_lists=8)
        _st = SnapshotTable(spark, idx_dir + "/i")
        all_live = {f["path"] for f in _st._manifest(_st.current_id)}
        pruned = _st.read(partition_values=["0"])
        scanned = {f.split("/i/", 1)[1] for f in pruned.inputFiles()}
        ok = scanned < all_live and len(scanned) >= 1
        checks.append(("snapshot IVF read prunes to probed lists' files", ok))
        out += ["\n## snapshot_ivf_pruning\n",
                f"live={len(all_live)} scanned={len(scanned)}\n"]

    # 17. sampling: the hash filters are narrow (no shuffle) and reach
    # the scan stage — mixture sampling must add ZERO exchanges before
    # its final rollup, and the md5 threshold compare stays codegen'd
    from raster_functions_spark import sampling
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    samp = sampling.sample_fraction(docs, "doc_id", seed=42, fraction=0.3)
    p = plan_of(samp)
    ok = ("Exchange" not in p and "BatchEvalPython" not in p
          and "codegen id" in p)
    checks.append(("sample_fraction: narrow codegen filter, zero shuffle", ok))
    out += ["\n## sample_fraction\n", p]

    # 18. exact stratified sampling: the window runs over the
    # broadcast-prefiltered candidates, never a full-table window shuffle
    # as the only path (broadcast threshold join present).
    # checkpoint=False keeps the candidate lineage visible — the default
    # eager localCheckpoint would truncate the plan to an RDD scan
    picked = sampling.sample_stratified_exact(
        docs, ["lang", "source"], 3, "doc_id", seed=11, checkpoint=False)
    p = plan_of(picked)
    ok = ("BroadcastHashJoin" in p or "BroadcastExchange" in p) \
        and "Window" in p
    checks.append(("stratified sample: broadcast threshold prefilter feeds the window", ok))
    out += ["\n## sample_stratified_exact\n", p]

    # 19. bloom corpus-side probe is a NARROW map-only pipeline: base
    # hashes in codegen, membership as one vectorized Arrow eval, no
    # exchange, no row-at-a-time python — the property that lets the
    # 10^12-row corpus side run without shuffling
    from raster_functions_spark import dedup as _dedup
    words = _dedup.bloom_build(
        docs.filter(F.col("source") == "src0")
            .select(_dedup.bow_fingerprint_col("text").alias("k")),
        "k", 1 << 16, 5)
    probe = (_dedup.bloom_might_contain(
        docs.select("doc_id", _dedup.bow_fingerprint_col("text").alias("k")),
        "k", words, 5).filter(F.col("bloom_hit")))
    p = plan_of(probe)
    ok = ("Exchange" not in p and "BatchEvalPython" not in p
          and "ArrowEvalPython" in p and "codegen id" in p)
    checks.append(("bloom corpus probe: narrow codegen + one Arrow eval, zero shuffle", ok))
    out += ["\n## bloom_might_contain\n", p]

    # 20. geodesic radius join: candidates come from the cell-grid hash
    # equi-join (haversine + id ordering as residual condition) — never a
    # BroadcastNestedLoopJoin / CartesianProduct, and zero Python
    from raster_functions_spark import spatial as _spatial
    ev = spark.read.parquet(f"{SF}/events.parquet")
    _lat, _lon = _spatial.lonlat_cols(F.col("event_id"))
    pts = (ev.filter(F.col("event_id") % 5 == 0)
           .select(F.col("event_id").alias("id"),
                   _lat.alias("lat"), _lon.alias("lon")))
    p = plan_of(_spatial.radius_join(pts, 0.03, max_abs_lat=60.0))
    ok = ("BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
          and ("BroadcastHashJoin" in p or "SortMergeJoin" in p
               or "ShuffledHashJoin" in p)
          and "EvalPython" not in p)
    checks.append(("geodesic radius join: cell hash equi-join, no cross product", ok))
    out += ["\n## geo_radius_join\n", p]

    # 21. URL canonicalization dedup: the regexp chain runs inside codegen
    # with exactly one exchange (the canonical-key hash aggregate)
    from raster_functions_spark import oracles as _orc2
    from raster_functions_spark import text as _text2
    url = F.expr(_orc2.synth_url_sql("doc_id", "spark"))
    canon = (docs.select(_text2.canonical_url(url).alias("c"))
             .groupBy("c").count())
    p = plan_of(canon)
    # (AQE hides codegen ids pre-execution, so assert structure: the
    # regexp chain folded into one Project, a map-side partial_count,
    # exactly one exchange, zero Python)
    ok = (p.count("Exchange (") == 1 and "EvalPython" not in p
          and "partial_count" in p and "regexp_replace" in p)
    checks.append(("url dedup: JVM regexp chain + single hash-agg exchange", ok))
    out += ["\n## dedup_url\n", p]

    # 22. HLL sketch: the register build is a map-side-combined hash
    # aggregate (partial_max before the exchange) — at most 2^p rows per
    # group ever shuffle — and the whole sketch stays JVM-side
    from raster_functions_spark import sketches as _sketches
    hll = _sketches.hll_distinct(ev, "user_id", ["event_type"], p=8)
    p = plan_of(hll)
    ok = ("EvalPython" not in p and "partial_max" in p
          and "SortAggregate" not in p)
    checks.append(("hll sketch: map-side partial_max registers, zero Python", ok))
    out += ["\n## sketch_hll\n", p]

    # 23. winnowing: bounded explode + doc-keyed hash aggregations only —
    # no self-join of gram tables, no cross product, zero Python
    fps = _text2.winnow_fingerprints(docs)
    p = plan_of(fps)
    ok = ("EvalPython" not in p and "CartesianProduct" not in p
          and "BroadcastNestedLoopJoin" not in p and "Join" not in p)
    checks.append(("winnow: explode + doc-keyed hash aggs, no join, zero Python", ok))
    out += ["\n## text_winnow\n", p]

    # 24. geodesic kNN grid phase: candidates come from the cell hash
    # equi-join — no cross product anywhere in the plan
    pts2 = (ev.filter(F.col("event_id") % 5 == 0)
            .select(F.col("event_id").alias("id"),
                    _lat.alias("lat"), _lon.alias("lon")))
    knn = _spatial.knn_geo(pts2, k=3, theta0=0.3, max_abs_lat=60.0)
    p = plan_of(knn)
    ok = ("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
          and ("SortMergeJoin" in p or "ShuffledHashJoin" in p
               or "BroadcastHashJoin" in p))
    checks.append(("geo kNN: cell hash equi-join candidates, no cross product", ok))
    out += ["\n## geo_knn\n", p]

    # 25. winnow pairs: the pair join is a hash equi-join on the
    # fingerprint hash (stop-fingerprint filter upstream), zero Python
    wp = _text2.winnow_pairs(docs)
    p = plan_of(wp)
    ok = ("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
          and "EvalPython" not in p)
    checks.append(("winnow pairs: fingerprint hash equi-join, zero Python", ok))
    out += ["\n## dedup_winnow_pairs\n", p]

    # 26. per-pixel zonal statistics with a zone-synthesizing op: the op
    # runs inside the partial-aggregate pass (raster.chained_tiles) — one
    # Python pass, no encode → decode hop between two mapInPandas
    from raster_functions_spark.operators import zonal as _zonal
    dem = (fixtures.dem_scene_df(spark, tiles_x=2, tiles_y=2, tile=16)
           .withColumn("xmin", F.col("tx") * 0.016)
           .withColumn("ymax", F.col("ty") * -0.016))
    zs = _zonal.zonal_statistics_px(
        dem, _zonal.zone_band_from_cells(15, 20),
        meta_cols=("xmin", "ymax", "cell_dx", "cell_dy"))
    p = plan_of(zs)
    ok = len(_re.findall(r"\(\d+\) MapInPandas", p)) == 1
    checks.append(("pixel zonal stats: zone op fused, exactly one MapInPandas", ok))
    out += ["\n## zonal_statistics_px\n", p]

    # 27. halo exchange over a stored tile table: the tile's meta columns
    # travel on its own halo messages — the chain scans the table once
    # and joins nothing back onto the messages
    from raster_functions_spark.plans import chain as _chain
    with tempfile.TemporaryDirectory() as td:
        fixtures.dem_scene_df(spark, tiles_x=2, tiles_y=2, tile=16).write.parquet(td + "/dem")
        shade = _chain.build_chain(spark.read.parquet(td + "/dem"), [
            {"op": "hillshade", "args": {"geographic": True}},
            {"op": "stretch", "args": {"band": 0, "in_min": 0, "in_max": 255,
                                       "out_min": 0, "out_max": 1}}])
        p = plan_of(shade)
    ok = len(_re.findall(r"\(\d+\) Scan parquet", p)) == 1 and "Join" not in p
    checks.append(("halo exchange: one parquet scan, no join", ok))
    out += ["\n## build_chain hillshade→stretch\n", p]

    # 28. polyfill + compact: one scanline-cover mapInPandas over a
    # one-row-per-ring table — no shuffle, no union, and the plan does not
    # grow with the number of rings
    ok = True
    for n_rings in (3, 30):
        rings = [(k, *fixtures.aoi_ring(k)) for k in range(n_rings)]
        p = plan_of(_spatial.polyfill_compact(spark, rings, 11))
        ok &= (len(_re.findall(r"\(\d+\) MapInPandas", p)) == 1
               and "Exchange" not in p and "Union" not in p)
        out += [f"\n## polyfill_compact ({n_rings} rings)\n", p]
    checks.append(("polyfill: one MapInPandas, no Exchange, no Union (3 and 30 rings)", ok))

    # 29. compact bbox cover: one run compaction, no per-resolution arms
    p = plan_of(grid.compact_cover_df(spark, -10.0, -5.0, 25.0, 30.0, 9))
    checks.append(("compact bbox cover: no Union", "Union" not in p))
    out += ["\n## compact_cover_df\n", p]

    # 30. a halo stage fuses its pointwise neighbours: leading ops run in
    # the emit pass, trailing ops in the assemble pass — two Python
    # passes whatever pointwise ops surround the focal op
    stretch = {"op": "stretch", "args": {"band": 0, "in_min": 0, "in_max": 255,
                                         "out_min": 0, "out_max": 1}}
    shade = {"op": "hillshade", "args": {"geographic": True}}
    ok = True
    with tempfile.TemporaryDirectory() as td:
        fixtures.dem_scene_df(spark, tiles_x=2, tiles_y=2, tile=16).write.parquet(td + "/dem")
        for name, spec in (("hillshade→stretch", [shade, stretch]),
                           ("stretch→hillshade→stretch", [stretch, shade, stretch])):
            p = plan_of(_chain.build_chain(spark.read.parquet(td + "/dem"), spec))
            ok &= len(_re.findall(r"\(\d+\) MapInPandas", p)) == 2
            out += [f"\n## build_chain {name}\n", p]
    checks.append(("halo stage: pointwise neighbours fused, exactly two MapInPandas", ok))

    # 31. every one-row-per-group reduction runs on grouped_sorted_map:
    # the SARIMA stack delta, the shard export and each hydro round's
    # inflow build (planned inside the round's localCheckpoint, so the
    # checkpointed plans are captured) plan no FlatMapGroupsInPandas
    from raster_functions_spark import multimodal
    from raster_functions_spark.operators import hydro, ml
    plans = [plan_of(ml.sarima_stack_delta(
                 fixtures.stack_images_df(spark, n_scenes=2, n_times=16), horizon=6)),
             plan_of(multimodal.export_shards(fixtures.images_df(spark, 20),
                                              capacity_bytes=1 << 15))]
    dem = fixtures.dem_scene_df(spark, tiles_x=2, tiles_y=2, tile=16)
    cls = type(dem)
    checkpoint = cls.localCheckpoint
    rounds = []

    def recording(self, *a, **kw):
        rounds.append(plan_of(self))
        return checkpoint(self, *a, **kw)
    cls.localCheckpoint = recording
    try:
        plans.append(plan_of(hydro.flow_accumulation_distributed(dem, 16)))
    finally:
        cls.localCheckpoint = checkpoint
    plans += rounds
    ok = (any("Join" in r for r in rounds)
          and not any("FlatMapGroupsInPandas" in p for p in plans))
    checks.append(("one-row groups (sarima delta, shards, hydro inflow): "
                   "no FlatMapGroupsInPandas", ok))
    out += ["\n## sarima_stack_delta / export_shards / flow_accumulation_distributed\n",
            *plans]

    # 32. the broadcast flagship over a stored image table: the scan reads
    # only the six columns the fused kernel uses, the zonal aggregation
    # shuffles on (aoi_id, cell) and on aoi_id, and the ≤ threshold result
    # rows are ordered in one partition (no rangepartitioning Exchange
    # and so no sample job)
    with tempfile.TemporaryDirectory() as td:
        fixtures.images_df(spark, 50, partitions=2).write.parquet(td + "/img")
        p = plan_of(pipeline.flagship(spark, spark.read.parquet(td + "/img"),
                                      fixtures.aoi_df(spark, 20)))
    read = _re.findall(r"ReadSchema: struct<(.*)>", p)
    ok = (len(_re.findall(r"Arguments: hashpartitioning\(", p)) == 2
          and "rangepartitioning" not in p
          and len(read) == 1
          and sorted(f.split(":")[0] for f in read[0].split(","))
          == sorted(pipeline._KERNEL_COLS))
    checks.append(("broadcast flagship: 6-column scan, two hash Exchanges, "
                   "no range Exchange", ok))
    out += ["\n## flagship_broadcast_route\n", p]

    # 33. every multimodal payload kernel over the 17-column image table
    # plans one MapInPandas whose input is exactly its kept columns and the
    # payload column: nothing else crosses the Arrow boundary
    with tempfile.TemporaryDirectory() as td:
        fixtures.images_df(spark, 20, partitions=2).write.parquet(td + "/img")
        imgs = spark.read.parquet(td + "/img")
        kernels = {
            "image_features": (multimodal.image_features(imgs), ["image_id"]),
            "decode_metrics": (multimodal.decode_metrics(imgs), ["image_id"]),
            "image_catalog": (multimodal.image_catalog(imgs), ["image_id"]),
            "video_decode_metrics": (multimodal.video_decode_metrics(
                imgs, keep_cols=("image_id", "fmt")), ["image_id", "fmt"]),
        }
        ok = len(imgs.columns) == 17
        for name, (df, keep) in kernels.items():
            p = plan_of(df)
            inputs = _re.findall(r"\(\d+\) MapInPandas\s*\nInput \[\d+\]: \[(.*)\]", p)
            ok &= (len(inputs) == 1 and
                   [c.split("#")[0] for c in inputs[0].split(", ")]
                   == keep + ["bytes"])
            out += [f"\n## multimodal.{name}\n", p]
    checks.append(("multimodal payload kernels: one MapInPandas fed only "
                   "kept columns + bytes", ok))

    out.append("\n# Assertions\n")
    failed = 0
    for name, ok in checks:
        out.append(f"- {'PASS' if ok else 'FAIL'}: {name}\n")
        print(("PASS " if ok else "FAIL ") + name)
        failed += not ok
    os.makedirs(os.path.join(REPO, ".perfbench"), exist_ok=True)
    with open(os.path.join(REPO, ".perfbench", "explain_audit.txt"), "w") as f:
        f.writelines(out)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
