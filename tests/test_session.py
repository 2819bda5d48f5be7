"""Session set-up: shipping the package to workers, the driver heap
default, and the worker-side hooks (``raster_functions_spark._worker``):
the zip import hook and the import-time heap freeze."""

import gc
import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

from raster_functions_spark import _worker, grid
from raster_functions_spark.session import default_driver_memory, package_zip, ship_package

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
        import gc as _gc
        import os as _os
        from pyspark import TaskContext
        from raster_functions_spark import _worker as w
        from raster_functions_spark import grid as g
        for pdf in batches:
            yield pd.DataFrame({
                "lon": pdf["lon"], "lat": pdf["lat"],
                "cell": g.encode_np(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 9),
                "active": w.active(), "pid": _os.getpid(),
                "keyed_archives": len(w._read_keys),
                "frozen": _gc.get_freeze_count(), "tracked": len(_gc.get_objects()),
                "task": TaskContext.get().taskAttemptId()})

    out = df.mapInPandas(run, "lon double, lat double, cell long, active boolean, "
                              "pid long, keyed_archives long, frozen long, "
                              "tracked long, task long").toPandas()
    assert len(out) == len(lon)
    assert out["active"].all()
    # reused workers ran several tasks, and from a worker's second task on
    # its zip importers went through the stat-keyed path
    assert out["pid"].nunique() < n_tasks
    assert (out["keyed_archives"] > 0).any()
    # every reused worker froze its import-time heap; a worker runs its
    # tasks one after another, so per pid the tasks after the smallest id
    # are its later ones, and only objects made since the freeze are left
    # for the collector (~73,000 without it)
    assert (out["frozen"] > 0).all()
    later = out[out["task"] > out.groupby("pid")["task"].transform("min")]
    assert len(later) > 0
    assert (later["tracked"] < 20_000).all(), later["tracked"].max()
    out = out.sort_values(["lon", "lat"]).reset_index(drop=True)
    expect = grid.encode_np(out["lon"].to_numpy(), out["lat"].to_numpy(), 9)
    assert (out["cell"].to_numpy() == expect).all()
    # the driver's imports and heap are untouched
    assert not _worker.active()
    assert gc.get_freeze_count() == 0


# Runs in a fresh interpreter, outside any Spark worker. Prints the freeze
# count after the package import and around two install() calls.
_FREEZE_SCRIPT = textwrap.dedent("""
    import gc, sys
    sys.path.insert(0, {repo!r})
    from raster_functions_spark import _worker
    print("after_import", gc.get_freeze_count())
    _worker.install()
    first = gc.get_freeze_count()
    made_after = [[i] for i in range(1000)]    # would be frozen by a 2nd freeze
    _worker.install()
    print("installs", first, gc.get_freeze_count())
""").format(repo=REPO)


def _run_freeze_script(tmp_path, reuse):
    script = tmp_path / "freeze_check.py"
    script.write_text(_FREEZE_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_REUSE_WORKER"}
    if reuse:
        env["SPARK_REUSE_WORKER"] = "1"
    res = subprocess.run([sys.executable, str(script)], capture_output=True, text=True,
                         timeout=120, cwd=tmp_path, env=env)
    assert res.returncode == 0, res.stderr
    return dict(line.split(" ", 1) for line in res.stdout.splitlines())


def test_install_freezes_once_in_a_reused_worker_only(tmp_path):
    out = _run_freeze_script(tmp_path, reuse=True)
    # importing the package outside a Spark worker freezes nothing
    assert out["after_import"] == "0"
    first, second = map(int, out["installs"].split())
    assert first > 0
    assert second == first


def test_no_freeze_without_worker_reuse(tmp_path):
    out = _run_freeze_script(tmp_path, reuse=False)
    assert out["after_import"] == "0"
    assert out["installs"] == "0 0"


def test_default_driver_memory_is_half_the_host_capped():
    assert default_driver_memory(16 << 30) == "8192m"
    assert default_driver_memory(15_700_000_000) == "7486m"
    assert default_driver_memory(96 << 30) == "49152m"
    assert default_driver_memory(1 << 40) == "49152m"
    host = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert default_driver_memory() == default_driver_memory(host)


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
    """An input with no files (an in-memory frame, a streaming source) has
    no knowable size, so it is returned unchanged; a small parquet table is
    still spread over the cores."""
    from raster_functions_spark.session import ensure_min_parallelism
    df = spark.createDataFrame(pd.DataFrame({"v": range(100)}))
    out = ensure_min_parallelism(df)
    assert out is df
    assert "RoundRobinPartitioning" not in _plan(out)
    rate = spark.readStream.format("rate").load()
    assert ensure_min_parallelism(rate) is rate

    path = str(tmp_path / "small.parquet")
    df.coalesce(1).write.parquet(path)
    small = ensure_min_parallelism(spark.read.parquet(path))
    assert "RoundRobinPartitioning" in _plan(small)
    assert sorted(r["v"] for r in small.collect()) == list(range(100))
