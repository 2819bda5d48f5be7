"""Extra benchmarks for optimization round 7 (guide §1.4 noop-sink isolation).

NOT part of the frozen measurement contract (`bench.py` is the driver's
artifact); this file exists so stage-level numbers in OPTIMIZATION_r07.md
are reproducible: each probe times one query (or one internal stage) with
the noop sink so the computation is measured, not the sink.

Usage:
    python bench_extra.py <probe> [...probe]     # e.g. flagship
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py headline
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TRIALS = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label: str, make_df, trials: int = TRIALS,
          sink=noop) -> float:
    """min-of-N wall for computing make_df() through the noop sink."""
    best = float("inf")
    for _ in range(trials):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        sink(make_df())
        best = min(best, time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"  {label:50s} {best:8.3f}s", flush=True)
    return best


def get_session():
    from raster_functions_spark.session import get_spark
    return get_spark("bench-extra", cores=CPUS, shuffle_partitions=CPUS)


def probe_headline(spark):
    """All headline queries, bench methodology (count), min-of-N."""
    import __spark_entry__ as entry
    qs = entry.queries()
    names = ["a1_pricing_summary", "a4_percentile", "a8_topk_per_group",
             "p9_zonal_interval", "j5_knn", "w4_window_rank",
             "spatial_bbox_join", "dedup_exact", "dedup_minhash_lsh",
             "text_langid", "sessionize"]
    out = {}
    for n in names:
        out[n] = timed(spark, n, lambda: None,
                       sink=lambda _, _n=n: qs[_n](spark, SF_DIR).count())
    print(json.dumps({k: round(v, 3) for k, v in out.items()}))


def probe_flagship(spark):
    from raster_functions_spark import fixtures, pipeline
    aoi = fixtures.aoi_df(spark, 200)
    n = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "100000"))
    pipeline.flagship_from_seed(spark, 1000, aoi, partitions=CPUS * 4).count()
    timed(spark, f"flagship {n} images",
          lambda: None,
          sink=lambda _: pipeline.flagship_from_seed(spark, n, aoi).count())


PROBES = {
    "headline": probe_headline,
    "flagship": probe_flagship,
}


if __name__ == "__main__":
    wanted = [a for a in sys.argv[1:] if a in PROBES] or ["headline"]
    s = get_session()
    for w in wanted:
        PROBES[w](s)
    s.stop()
