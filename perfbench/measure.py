"""Measurement helpers: spans, CPU time and peak RSS from /proc, and
Spark event-log totals.

Nothing here imports pyspark, so the helpers work before a session exists
and in the benchmark's own unit checks.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024
PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory span list; written out once when the benchmark ends.

    A span is (name, start, end, parent, run_id); ``parent`` is the name of
    the enclosing span, ``run_id`` ties the spans of one traced operation.
    """

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, spark=None):
        """Time a block; with ``spark`` also tag its jobs with ``name`` as
        the job group, so event-log task metrics can be attributed."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if spark is not None:
            spark.sparkContext.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if spark is not None:
                spark.sparkContext.setJobGroup(parent or "untagged", "")
            self.spans.append(
                {"name": name, "start": t0, "end": t1, "parent": parent,
                 "run_id": self.run_id}
            )

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Span duration minus the part its direct children cover."""
        own = self.wall(name)
        kids = sum(
            s["end"] - s["start"] for s in self.spans if s["parent"] == name
        )
        return own - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue  # process exited between glob and open
        pid = int(stat.split("/")[2])
        # comm may contain spaces or ')' -> split after the LAST ')'
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (the Spark driver JVM
    and the Python workers it forks), excluding ``root`` itself."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of every
    descendant of ``root``: the driver JVM with its JIT and GC threads,
    and the Python workers."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / TICK


def cpu_now() -> float:
    """CPU seconds so far of this process and its descendants."""
    return time.process_time() + tree_cpu_s(os.getpid())


class OpClock:
    """Wall time, and CPU time of this process's descendants, of a block."""

    def __enter__(self):
        self._cpu0 = tree_cpu_s(os.getpid())
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.cpu = tree_cpu_s(os.getpid()) - self._cpu0


class RssSampler:
    """Background sampler of tree_rss_bytes(own pid); peak over the
    intervals between start() and stop()."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None


EVENT_FIELDS = ("shuffle_write_mb", "spill_mb", "gc_s", "task_cpu_s",
                "failed_tasks", "jobs")


def event_log_totals(event_dir: str) -> tuple[dict, dict]:
    """Per-job-group task totals from a finished Spark event log.

    Returns ``(totals, task_times)``: totals[group] holds EVENT_FIELDS,
    task_times[group] maps stage id -> task run times in ms (for skew).
    Failed tasks come from each task's end reason, not from log text.
    """
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = {}
    task_times: dict[str, dict[int, list[int]]] = {}

    def acc(group: str) -> dict:
        return totals.setdefault(group, {k: 0.0 for k in EVENT_FIELDS})

    # Spark 4 writes a directory of rolled event files per application
    paths = glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "untagged"
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "untagged")
                    t = acc(group)
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        t["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    t["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                    t["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    t["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    task_times.setdefault(group, {}).setdefault(
                        ev["Stage ID"], []
                    ).append(tm.get("Executor Run Time", 0))
    return totals, task_times


def task_skew(stage_times: dict[int, list[int]]) -> float:
    """Largest max/median task run time over stages with >= 2 tasks
    (0.0 when no stage has two tasks)."""
    worst = 0.0
    for times in stage_times.values():
        if len(times) < 2:
            continue
        s = sorted(times)
        med = s[len(s) // 2] or 1
        worst = max(worst, s[-1] / med)
    return worst


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total / MB
