"""Measurement helpers: in-memory spans, wrapped layer calls, process-tree
RSS sampling and the Spark event-log reader.

Nothing here changes the program under test. Wrappers replace a module
attribute with a timing shim for the length of a traced run and put the
original back afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and written
    out once, at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, attr: str, name: str) -> None:
        """Time every call to ``module.attr`` as a span called ``name``."""
        orig = getattr(module, attr)

        def shim(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, shim)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def per_unit_us(fn, items, min_seconds: float = 0.2) -> float:
    """Mean microseconds per item of ``fn(item)``, repeating the sample
    until at least ``min_seconds`` of work was timed."""
    n, t = 0, 0.0
    while t < min_seconds:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        t += time.perf_counter() - t0
        n += len(items)
    return t / n * 1e6


# ------------------------------------------------------------- memory ----

def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (driver JVM, Python workers)."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root_pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``root_pid`` and its live descendants. Time the hypervisor gave to
    other guests (steal) is not in it."""
    hz = os.sysconf("SC_CLK_TCK")
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / hz


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time, steal-free wall time and process-tree CPU time of the
    ``with`` block.

    On a shared host the hypervisor runs other guests on this guest's CPUs
    (steal); a block then takes longer though it did no more work.
    ``unstolen`` is the wall scaled by the share of CPU time the guest
    actually got while the block ran: wall × busy ÷ (busy + steal)."""

    def __enter__(self):
        self._cpu = tree_cpu_s(os.getpid())
        self._ticks = cpu_ticks()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        busy, steal = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.unstolen = self.wall * busy / max(1, busy + steal)
        self.cpu = tree_cpu_s(os.getpid()) - self._cpu


class RssSampler:
    """Peak summed RSS of this process tree, sampled on a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------- event log ----

def read_event_log(log_dir: str) -> tuple[dict[str, list[dict]], dict[str, int]]:
    """Stages and job counts, grouped by the job group the benchmark set.

    Returns ``({job_group: [stage, ...]}, {job_group: n_jobs})`` where a
    stage holds its wall (submission → completion, s), task durations (s)
    and the summed task metrics."""
    # one application per session bring-up; the last one ran the passes
    apps = sorted((p for p in glob.glob(os.path.join(log_dir, "*"))
                   if not p.endswith(".inprogress")),
                  key=lambda p: int(p.rsplit("-", 1)[1]))
    if not apps:
        raise RuntimeError(f"no finished event log in {log_dir}")
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stages: dict[int, dict] = {}
    with open(apps[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs[group] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                st["task_s"].append((info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["wall_s"] = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3
    out: dict[str, list[dict]] = defaultdict(list)
    for sid in sorted(stages):
        if stages[sid]["task_s"]:
            out[stage_group.get(sid, "")].append(stages[sid])
    return out, jobs


def _new_stage() -> dict:
    return {"wall_s": 0.0, "task_s": [], "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "spill_bytes": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_write_records": 0}


def spark_metrics(stages_by_group: dict[str, list[dict]], jobs_by_group: dict[str, int],
                  pass_groups: list[list[str]], pass_walls: list[float],
                  cores: int) -> dict[str, float]:
    """The ``spark.*`` per-pass numbers, each the median over passes.

    ``pass_groups[k]`` names the job groups of pass k (one per step)."""
    rows = []
    for groups, wall in zip(pass_groups, pass_walls):
        st = [s for g in groups for s in stages_by_group.get(g, [])]
        if not st:
            continue
        heavy = max(st, key=lambda s: s["run_s"])
        run_s = sum(s["run_s"] for s in st)
        rows.append({
            "jobs": sum(jobs_by_group.get(g, 0) for g in groups),
            "tasks": sum(len(s["task_s"]) for s in st),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(s["cpu_s"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
            "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in st),
            "spill_bytes": sum(s["spill_bytes"] for s in st),
            "gc_s": sum(s["gc_s"] for s in st),
            "task_skew": max(heavy["task_s"]) / max(statistics.median(heavy["task_s"]), 1e-3),
            "idle_core_share": 1.0 - run_s / (wall * cores),
        })
    if not rows:
        raise RuntimeError("no traced pass found in the event log")
    return {f"spark.{k}": statistics.median(r[k] for r in rows) for k in rows[0]}
