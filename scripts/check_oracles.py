"""Self-check: run every queries() entry on Spark AND its oracle_sql() on
DuckDB at sf0.01; compare row count, column names, each column's pandas
dtype kind (an int-versus-float split fails, as it does in the driver's
hash), and order-insensitive values (exact for ints/strings, 1e-9 for
floats). Mimics the driver's CORRECTNESS gate so mismatches surface before
the round ends.

After each query it also prints the query's session-state deltas —
persistent RDDs, temporary views and active streaming queries it left
behind — and one summary line at the end. The report is informational:
it changes no verdict and no exit code.

Usage: python scripts/check_oracles.py [sf_dir] [only_query_prefix]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str:
    if list(spark_df.columns) != list(oracle_df.columns):
        return f"SCHEMA MISMATCH: spark={list(spark_df.columns)} duck={list(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"ROWCOUNT MISMATCH: spark={len(spark_df)} duck={len(oracle_df)}"
    kinds = {c: (spark_df[c].dtype.kind, oracle_df[c].dtype.kind)
             for c in spark_df.columns}
    split = {c: k for c, k in kinds.items() if k[0] != k[1]}
    if split:
        return f"DTYPE KIND MISMATCH (spark, duck): {split}"
    a = spark_df.sort_values(list(spark_df.columns)).reset_index(drop=True)
    b = oracle_df.sort_values(list(oracle_df.columns)).reset_index(drop=True)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            aa = av.astype(float).to_numpy()
            bb = bv.astype(float).to_numpy()
            ok = np.isclose(aa, bb, atol=1e-9, rtol=0, equal_nan=True)
            if not ok.all():
                i = int(np.nonzero(~ok)[0][0])
                return f"VALUE MISMATCH col={c} row{i}: spark={aa[i]!r} duck={bb[i]!r}"
        else:
            if not (av.astype(str).to_numpy() == bv.astype(str).to_numpy()).all():
                bad = (av.astype(str).to_numpy() != bv.astype(str).to_numpy())
                i = int(np.nonzero(bad)[0][0])
                return f"VALUE MISMATCH col={c} row{i}: spark={av.iloc[i]!r} duck={bv.iloc[i]!r}"
    return "OK"


def session_state(spark) -> tuple[int, set[str], set[str]]:
    """(persistent RDD count, temporary view names, active streaming
    query names) of the session."""
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    streams = {q.name or q.id for q in spark.streams.active}
    return spark.sparkContext._jsc.getPersistentRDDs().size(), views, streams


def run_query(name, fn, spark, con, sf_dir, oracles) -> bool:
    """Run one query on Spark and (if it has one) its DuckDB oracle;
    print the verdict line. Returns True on a failure."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf_dir).toPandas()
    except Exception as e:
        print(f"{name:24s} SPARK ERROR: {type(e).__name__}: {str(e)[:300]}")
        return True
    if name not in oracles:
        print(f"{name:24s} rows-only: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
        if len(sdf) == 0:
            print(f"{name:24s}   WARNING: zero rows")
        return False
    try:
        odf = con.sql(oracles[name]).df()
    except Exception as e:
        print(f"{name:24s} DUCKDB ERROR: {type(e).__name__}: {str(e)[:300]}")
        return True
    verdict = compare(name, sdf, odf)
    status = "✓" if verdict == "OK" else "✗"
    print(f"{name:24s} {status} {len(sdf)} rows ({time.time()-t0:.1f}s)"
          + ("" if verdict == "OK" else f"  {verdict}"))
    return verdict != "OK"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""

    import __spark_entry__ as entrymod
    from raster_functions_spark.session import get_spark

    spark = get_spark("check-oracles", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    leaks: dict[str, list[str]] = {"persistent RDDs": [], "temp views": [],
                                   "active streams": []}
    for name, fn in qs.items():
        if prefix and not name.startswith(prefix):
            continue
        rdds0, views0, streams0 = session_state(spark)
        failures += run_query(name, fn, spark, con, sf_dir, oracles)
        rdds1, views1, streams1 = session_state(spark)
        new_views, new_streams = sorted(views1 - views0), sorted(streams1 - streams0)
        print(f"{name:24s}   state: persistent_rdds {rdds1 - rdds0:+d}, "
              f"temp_views +{new_views}, active_streams +{new_streams}")
        for kind, grew in (("persistent RDDs", rdds1 > rdds0),
                           ("temp views", new_views),
                           ("active streams", new_streams)):
            if grew:
                leaks[kind].append(name)
    print("\nSESSION STATE (report only): "
          + "; ".join(f"{len(v)} queries left {k} behind {v}"
                      for k, v in leaks.items()))
    spark.stop()
    print(f"\n{'PASS' if failures == 0 else 'FAIL'}: {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
