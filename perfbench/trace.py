"""Span recording, Spark job accounting and process-tree memory sampling.

Spans carry a name, start, end and parent span, stay in memory while the
benchmark runs, and are written out once when it ends. Eager engine calls
(``run_round``, ``write_checkpoint``, ``load_checkpoint``, the Bloom
``add_df``) are wrapped in place for the duration of a pass; lazy layers
are timed by the benchmark itself (see ``layers.py``).
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import urllib.request
from urllib.parse import urlparse


class Tracer:
    """In-memory span log. ``jobs=True`` on a span tags the Spark jobs it
    starts with a job group of its own, so the jobs, stages and tasks it
    ran can be counted from the status tracker when it closes.
    ``bookkeeping_s`` sums the time spent in such counting and in other
    work done only for the trace (see ``bookkeeping``)."""

    def __init__(self, spark=None, count_jobs: bool = False):
        self.spark = spark
        self.count_jobs = count_jobs
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0

    @contextlib.contextmanager
    def bookkeeping(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        group = None
        if jobs and self.count_jobs:
            group = f"perfbench-span-{sp['id']}"
            self.spark.sparkContext.setJobGroup(group, name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                with self.bookkeeping():
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    sp.update(job_counts(self.spark, group))

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def values(self, name: str, key: str) -> list:
        return [s[key] for s in self.spans if s["name"] == name and key in s]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def job_counts(spark, group: str) -> dict:
    """Jobs, stages and completed tasks of one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    ran = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


@contextlib.contextmanager
def patched(owner, attr: str, make_wrapper):
    """Replace ``owner.attr`` by ``make_wrapper(original)`` for the block."""
    original = getattr(owner, attr)
    setattr(owner, attr, make_wrapper(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, file count) of a directory tree; (0, 0) when it is absent."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total / 1e6, files


# --- Spark status REST API (traced runs only: the UI is off otherwise) -----
def _rest(spark, suffix: str):
    port = urlparse(spark.sparkContext.uiWebUrl).port
    app = spark.sparkContext.applicationId
    url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{suffix}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_totals(spark) -> dict:
    """Per completed stage attempt: (executor CPU ns, GC ms, shuffle bytes)."""
    return {
        (s["stageId"], s["attemptId"]): (
            s.get("executorCpuTime", 0),
            s.get("jvmGcTime", 0),
            s.get("shuffleWriteBytes", 0),
        )
        for s in _rest(spark, "stages?status=complete")
    }


def stage_delta(before: dict, after: dict) -> dict:
    new = [v for k, v in after.items() if k not in before]
    return {
        "spark.executor_cpu_s": sum(v[0] for v in new) / 1e9,
        "spark.gc_s": sum(v[1] for v in new) / 1e3,
        "spark.shuffle_write_mb": sum(v[2] for v in new) / 1e6,
    }


# --- process-tree memory ----------------------------------------------------
def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of ``root`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) on a background thread; ``peak_mb`` is the
    largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            pids = [me] + descendants(me)
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6
