#!/usr/bin/env python3
"""Run one benchmark workload for one seed and print its metrics.

    python3 perfbench/run.py --workload flagship --seed 7 --seconds 10 --trace 0

Run from the repository root. The engine runs on ``local[N]`` with N the
usable core count, driven from this one process in a closed loop: one
Spark action at a time, the next only after the previous one finished.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a traced run (event log, job groups, spans). A human
summary goes to stderr; the last line on stdout is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

Generated tables, event logs, spans and results go under ``.perfbench/``
at the repository root, which git ignores.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import layers  # noqa: E402  (these import the engine from ROOT)
import tracing  # noqa: E402
import workloads  # noqa: E402
from raster_functions_spark import pipeline, session, spatial  # noqa: E402
from raster_functions_spark.operators import stack, zonal  # noqa: E402
from raster_functions_spark.plans import chain  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
SETUPS = 3            # warm session bring-ups per run; setup_s is their median


def _since_process_start() -> float:
    """Seconds since this interpreter was started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _log(msg: str) -> None:
    print(f"[perfbench {_since_process_start():7.2f}s] {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _env() -> None:
    """Keep every file the run writes inside the checkout, and fit the
    driver JVM to a small host."""
    for d in ("tmp", "spark-local", "tables", "eventlog", "traces", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _conf(event_dir: str | None = None) -> dict:
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    return conf


def _become_subreaper() -> None:
    """Make this process adopt its orphaned descendants, so the Python
    workers the JVM forks become our children when the JVM exits and
    ``_end_children`` can wait for them."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        _log(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def _children() -> list[int]:
    me = os.getpid()
    return [pid for pid in tracing._tree(me) if pid != me]


def _stop_gateway() -> None:
    """End the gateway JVM: the JVM exits when its stdin closes; wait for
    it, and kill it if it has not gone within 30 s."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _end_children(grace: float = 20.0) -> None:
    """Wait until every descendant of this process has ended and been
    reaped; SIGTERM what is left after ``grace`` s, SIGKILL 5 s later."""
    deadline = time.monotonic() + grace
    signalled = None
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        left = _children()
        if not left:
            return
        now = time.monotonic()
        if now >= deadline and signalled is None:
            _log(f"terminating leftover processes {left}")
            signalled, sig = now, signal.SIGTERM
        elif signalled is not None and now >= signalled + 5.0:
            if now >= signalled + 30.0:
                _log(f"processes {left} did not end")
                return
            sig = signal.SIGKILL
        else:
            sig = None
        if sig is not None:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def _host(cores: int, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    commit = ""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip()
    return {"cores": cores, "driver_memory": os.environ["SPARK_DRIVER_MEM"],
            "mem_total_kb": _mem_total_kb(), "seed": seed,
            "git_commit": commit or "unknown (not a git checkout)",
            "pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__, "python": sys.version.split()[0]}


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1])


class Run:
    """One benchmark run: sessions, passes, checks and the tally."""

    def __init__(self, args):
        self.args = args
        self.cores = _cores()
        self.wl = workloads.WORKLOADS[args.workload](args.seed, args.scale, WORK)
        self.spark = None
        self.attempted = 0
        self.failed = 0

    # -------------------------------------------------------- sessions --
    def bring_up(self, conf: dict) -> tuple[tracing.Stopwatch, float]:
        """A new session with the workload's inputs bound to it. Returns
        the whole bring-up's clock and get_spark's wall alone (s)."""
        if self.spark is not None:
            self.spark.stop()
        with tracing.Stopwatch() as clock:
            t0 = time.perf_counter()
            self.spark = session.get_spark("perfbench", cores=self.cores, extra_conf=conf)
            t1 = time.perf_counter()
            self.wl.register(self.spark)
        return clock, t1 - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # ---------------------------------------------------------- passes --
    def passes(self, seconds: float, label: str, tracer=None):
        """Closed loop of whole passes until ``seconds`` have elapsed (at
        least one). Returns each pass's clock, job groups and outputs."""
        clocks, groups, outs = [], [], []
        deadline = time.perf_counter() + seconds
        while True:
            k = len(clocks)
            names = []
            span = tracer.span(f"pass.{label}") if tracer else contextlib.nullcontext()
            with tracing.Stopwatch() as clock, span:
                for step, fn in self.wl.steps:
                    group = f"{label}/pass{k}/{step}"
                    names.append(group)
                    if tracer:
                        self.spark.sparkContext.setJobGroup(group, group)
                    try:
                        with tracer.span(f"step.{step}") if tracer else contextlib.nullcontext():
                            outs.append((step, fn(self.spark)))
                    except Exception as e:  # one failed action counts; the run goes on
                        _log(f"{group} raised: {traceback.format_exc(limit=3)}")
                        outs.append((step, e))
            clocks.append(clock)
            groups.append(names)
            if time.perf_counter() >= deadline:
                return clocks, groups, outs

    def tally(self, outs, errors: list[str] = ()) -> None:
        """Check every output outside the timed region."""
        for step, out in outs:
            self.attempted += 1
            errs = [repr(out)] if isinstance(out, Exception) else self.wl.check(step, out)
            if errs:
                self.failed += 1
                _log(f"check failed on {step}: {errs[0]}")
        for e in errors:
            self.attempted += 1
            self.failed += 1
            _log(f"check failed: {e}")

    def measure(self, conf: dict) -> dict:
        """Bring-ups, warm-up, timed passes: the end-to-end numbers."""
        setups = [self.bring_up(conf) for _ in range(SETUPS)]
        _log(f"{SETUPS} session bring-ups, walls {_walls(c for c, _ in setups)}")
        first, _, warm = self.passes(0.0, "warm")
        more, _, warm2 = self.passes(self.wl.warm_seconds, "warm")
        self.tally(warm + warm2)
        _log(f"warm passes, walls {_walls(first + more)}")
        with tracing.RssSampler() as rss:
            clocks, _, outs = self.passes(self.args.seconds, "untraced")
        self.tally(outs)
        _log(f"{len(clocks)} timed passes, walls {_walls(clocks)}, "
             f"steal-free {_walls(clocks, 'unstolen')}, cpu {_walls(clocks, 'cpu')}")
        return {"setups": setups, "clocks": clocks, "peak_rss_mb": rss.peak / 2**20}

    def end_to_end(self, m: dict) -> dict:
        n = self.wl.items_per_pass
        return {
            "items_per_s": n / statistics.median(c.unstolen for c in m["clocks"]),
            "cpu_ms_per_item": statistics.median(c.cpu for c in m["clocks"]) * 1e3 / n,
            "setup_s": statistics.median(c.unstolen for c, _ in m["setups"]),
            "peak_rss_mb": m["peak_rss_mb"],
        }


def _walls(clocks, attr: str = "wall") -> list[float]:
    return [round(getattr(c, attr), 3) for c in clocks]


def _emit(run: Run, metrics: dict, host: dict, trace: int) -> int:
    out = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
           "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()}}
    tag = f"{run.args.workload}_seed{run.args.seed}_trace{trace}"
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump({**out, "host": host, "failed_frac": run.failed / run.attempted}, f,
                  indent=1)
    _log(f"host {host}")
    _log(f"failed_frac {run.failed / run.attempted:.4f} "
         f"({run.failed} of {run.attempted} actions)")
    for k, v in metrics.items():
        _log(f"{k:34s} {v:14.6g} {UNITS[k]}")
    print(json.dumps(out), flush=True)
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test uses a small one)")
    args = p.parse_args(argv)

    signal.signal(signal.SIGTERM, _on_sigterm)
    _become_subreaper()
    _env()
    run = Run(args)
    host = _host(run.cores, args.seed)
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    event_dir = os.path.join(WORK, "eventlog", run_id) if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    conf = _conf(event_dir)
    try:
        t0 = time.perf_counter()
        run.spark = session.get_spark("perfbench", cores=run.cores, extra_conf=conf)
        cold = _since_process_start()
        _log(f"cold start {cold:.2f} s (session {time.perf_counter() - t0:.2f} s)")
        run.wl.prepare(run.spark, run.cores)
        _log("inputs ready")
        plain = run.measure(conf)
        if not args.trace:
            return _emit(run, run.end_to_end(plain), host, 0)
        return _emit(run, _traced(run, plain, cold, run_id, event_dir), host, 1)
    finally:
        with contextlib.suppress(Exception):
            run.stop()
        _stop_gateway()
        _end_children()
        _log("stopped")


def _traced(run: Run, plain: dict, cold: float, run_id: str, event_dir: str) -> dict:
    """The traced half of a ``--trace 1`` run. The whole run logs Spark
    events; after the untraced passes this adds wrapped layer calls,
    labelled jobs and in-memory spans, and times the same passes again.
    The difference of the two medians is the tracing overhead."""
    tracer = tracing.Tracer(run_id)
    for mod, attr in ((session, "ship_package"), (pipeline, "flagship"),
                      (pipeline, "prepare_aoi"), (spatial, "broadcast_aoi"),
                      (chain, "build_chain"), (zonal, "zonal_statistics_px"),
                      (stack, "stack_composite")):
        tracer.wrap(mod, attr, f"{mod.__name__.rsplit('.', 1)[1]}.{attr}")
    live_fn, log_fn = layers.LAYERS[run.args.workload]
    try:
        clocks, groups, outs = run.passes(run.args.seconds, "traced", tracer)
        walls = [c.wall for c in clocks]
        run.tally(outs)
        _log(f"{len(walls)} traced passes, walls {_walls(clocks)}")
        calls_per_pass = len(tracer.durations("session.ship_package")) / len(walls)
        for _ in range(3):
            session.ship_package(run.spark)
        live, errs = live_fn(run.spark, run.wl, tracer, run.args.seed)
        run.tally([], errs)
        run.stop()
    finally:
        tracer.unwrap_all()
        tracer.dump(os.path.join(WORK, "traces", run_id + ".json"))
    stages, jobs = tracing.read_event_log(event_dir)
    from_log = log_fn(live, run.wl, stages, groups, run.cores)
    out = dict.fromkeys((m["name"] for m in BENCH["per_layer"]), 0.0)
    out.update(live)
    out.update(from_log)
    out.update(tracing.spark_metrics(stages, jobs, groups, walls, run.cores))
    out["session.cold_start_s"] = cold
    out["session.get_spark_s"] = statistics.median(g for _, g in plain["setups"])
    out["session.ship_package_s"] = statistics.median(tracer.durations("session.ship_package"))
    out["session.ship_package_calls"] = calls_per_pass
    out["trace.overhead_share"] = (statistics.median(c.unstolen for c in clocks)
                                   / statistics.median(c.unstolen for c in plain["clocks"]) - 1.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
