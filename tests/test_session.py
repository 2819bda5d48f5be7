"""Session set-up: shipping the package to workers, and the worker-side
zip import hook (``raster_functions_spark._worker``)."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

from raster_functions_spark import _worker, grid
from raster_functions_spark.session import package_zip, ship_package

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: the hook patches a class of the running
# process. argv: <zip path> <"hook" | "plain">. Prints one line per check.
_HOOK_SCRIPT = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport
    sys.path.insert(0, {repo!r})
    from raster_functions_spark import _worker
    zp, mode = sys.argv[1], sys.argv[2]
    print("active_after_import", _worker.active())
    if mode == "hook":
        print("installed", _worker.install(), _worker.install())

    def write(names, path=zp):
        with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
            for n in names:
                zf.writestr(n + ".py", "VALUE = " + repr(n) + "\\n")

    write(["mod_a"])
    sys.path.insert(0, zp)
    import mod_a
    reads = []
    original_read = zipimport._read_directory
    def counting(archive):
        reads.append(archive)
        return original_read(archive)
    zipimport._read_directory = counting

    importlib.invalidate_caches()          # first call after install
    first = reads.count(zp)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    print("unchanged_reads", reads.count(zp) - first)

    # rewritten in place (same inode), gaining a module
    write(["mod_a", "mod_b"])
    before = reads.count(zp)
    importlib.invalidate_caches()
    print("rewrite_reads", reads.count(zp) - before)
    import mod_b
    print("mod_b", mod_b.VALUE)

    # replaced by another file of the same size and mtime: only the inode
    # tells the two apart
    st = os.stat(zp)
    write(["mod_a", "mod_c"], zp + ".new")
    assert os.stat(zp + ".new").st_size == st.st_size
    os.utime(zp + ".new", ns=(st.st_atime_ns, st.st_mtime_ns))
    os.replace(zp + ".new", zp)
    before = reads.count(zp)
    importlib.invalidate_caches()
    print("replace_reads", reads.count(zp) - before)
    import mod_c
    print("mod_c", mod_c.VALUE)
""").format(repo=REPO)


def _run_hook_script(tmp_path, mode):
    script = tmp_path / "hook_check.py"
    script.write_text(_HOOK_SCRIPT)
    res = subprocess.run([sys.executable, str(script), str(tmp_path / "mods.zip"), mode],
                         capture_output=True, text=True, timeout=120, cwd=tmp_path)
    assert res.returncode == 0, res.stderr
    return dict(line.split(" ", 1) for line in res.stdout.splitlines())


def test_zip_hook_skips_unchanged_archive_and_rereads_changed(tmp_path):
    out = _run_hook_script(tmp_path, "hook")
    # importing the package outside a Spark worker leaves imports alone
    assert out["active_after_import"] == "False"
    assert out["installed"] == "True True"
    assert out["unchanged_reads"] == "0"
    assert out["rewrite_reads"] == "1"
    assert out["mod_b"] == "mod_b"
    assert out["replace_reads"] == "1"
    assert out["mod_c"] == "mod_c"


def test_without_hook_every_invalidate_rereads(tmp_path):
    """Control for the counting above: plain Python re-reads an unchanged
    archive on every ``invalidate_caches``."""
    if not hasattr(__import__("zipimport").zipimporter, "invalidate_caches"):
        pytest.skip("zipimporter has no invalidate_caches before Python 3.10")
    out = _run_hook_script(tmp_path, "plain")
    assert out["unchanged_reads"] == "2"
    assert out["mod_b"] == "mod_b" and out["mod_c"] == "mod_c"


def test_hook_active_in_workers_results_unchanged(spark):
    n_tasks = 4 * spark.sparkContext.defaultParallelism
    lon = [float(i % 360 - 180) + 0.25 for i in range(n_tasks * 8)]
    lat = [float(i % 170 - 85) + 0.5 for i in range(n_tasks * 8)]
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat})).repartition(n_tasks)

    def run(batches):
        import os as _os
        from raster_functions_spark import _worker as w
        from raster_functions_spark import grid as g
        for pdf in batches:
            yield pd.DataFrame({
                "lon": pdf["lon"], "lat": pdf["lat"],
                "cell": g.encode_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 9),
                "active": w.active(), "pid": _os.getpid(),
                "keyed_archives": len(w._read_keys)})

    out = df.mapInPandas(run, "lon double, lat double, cell long, active boolean, "
                              "pid long, keyed_archives long").toPandas()
    assert len(out) == len(lon)
    assert out["active"].all()
    # reused workers ran several tasks, and from a worker's second task on
    # its zip importers went through the stat-keyed path
    assert out["pid"].nunique() < n_tasks
    assert (out["keyed_archives"] > 0).any()
    out = out.sort_values(["lon", "lat"]).reset_index(drop=True)
    expect = grid.encode_np(out["lon"].to_numpy(), out["lat"].to_numpy(), 9)
    assert (out["cell"].to_numpy() == expect).all()
    assert not _worker.active()            # the driver's imports are untouched


def test_ship_package_adds_each_file_once(spark):
    sc = spark.sparkContext
    before = sc.listFiles
    path = package_zip()
    assert os.path.basename(path) in {u.rsplit("/", 1)[-1] for u in before}
    mtime = os.stat(path).st_mtime_ns
    ship_package(spark)
    ship_package(spark)
    assert sc.listFiles == before
    # same content -> same name, and the shipped zip is not rewritten
    assert package_zip() == path
    assert os.stat(path).st_mtime_ns == mtime


def test_package_zip_named_by_content(tmp_path):
    a = package_zip()
    assert os.path.basename(a).startswith("raster_functions_spark-")
    explicit = package_zip(str(tmp_path / "rfs.zip"))
    assert explicit == str(tmp_path / "rfs.zip")
    with zipfile.ZipFile(a) as za, zipfile.ZipFile(explicit) as zb:
        assert sorted(za.namelist()) == sorted(zb.namelist())
        assert "raster_functions_spark/_worker.py" in za.namelist()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ensure_min_parallelism_leaves_fileless_inputs_alone(spark, tmp_path):
    """An input with no files (an in-memory frame) has no knowable size, so
    it is returned unchanged; a small parquet table is still spread over
    the cores."""
    from raster_functions_spark.session import ensure_min_parallelism
    df = spark.createDataFrame(pd.DataFrame({"v": range(100)}))
    out = ensure_min_parallelism(df)
    assert out is df
    assert "RoundRobinPartitioning" not in _plan(out)

    path = str(tmp_path / "small.parquet")
    df.coalesce(1).write.parquet(path)
    small = ensure_min_parallelism(spark.read.parquet(path))
    assert "RoundRobinPartitioning" in _plan(small)
    assert sorted(r["v"] for r in small.collect()) == list(range(100))
