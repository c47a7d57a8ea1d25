"""Timing summaries, peak RSS sampling and in-memory tracing spans."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

TAIL_MIN_BEYOND = 10  # samples that must lie beyond the reported tail


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``TAIL_MIN_BEYOND`` samples beyond it, never below the median.
    With n sorted samples that is sample n-11, the 100*(n-10)/n-th
    percentile; with fewer than 22 samples it is the median."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("no samples")
    i = n - 1 - TAIL_MIN_BEYOND
    if i < n // 2:
        return statistics.median(s), 50.0
    return s[i], 100.0 * (i + 1) / n


class RssSampler:
    """Peak summed RSS of this process and all of its descendants (the JVM
    and its Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)


class Tracer:
    """Spans (name, start, end, parent, trace id) kept in memory.

    Disabled, ``span`` is a bare ``yield``.  Enabled with a SparkContext,
    each span that runs Spark jobs gets its own job group, and its job,
    stage, task and failed-task counts are read from the status tracker
    when it ends.  ``overhead_s`` accumulates the time spent in this
    bookkeeping."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, spark: bool = False):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace_id if trace_id is not None else (parent or {}).get("trace"),
            "thread": threading.current_thread().name,
        }
        group = f"perfbench-{sid}" if spark and self.sc is not None else None
        if group:
            self.sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group:
                rec.update(self._spark_counts(group))
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _spark_counts(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for st in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(st)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
                    failed += sinfo.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def self_times(self) -> dict[str, float]:
        """Seconds per span name minus the time its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                rec = dict(s, start=s["start"] - t0, end=s["end"] - t0)
                f.write(json.dumps(rec) + "\n")
