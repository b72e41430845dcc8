"""Measurement helpers shared by the workloads: in-memory spans, Spark job
counts from the status tracker, process-tree resident memory from
``/proc``, the number of timed steps, and the percentile rule.

Spans are recorded only here, in the benchmark, around calls into the
program's public functions; nothing inside ``deepcrawl4ai_spark`` is
instrumented.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory (name, start, end, parent) and written out once.

    A disabled tracer still times the spans the end-to-end metrics need but
    keeps none of them, so the untraced run carries no span bookkeeping.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_s[i]
        return out

    def write(self, path: str, report: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**report, "self_s": self.self_times(), "spans": spans}, f, indent=1)


class JobCounter:
    """Jobs, executed stages and completed tasks of one Spark job group, from
    ``sc.statusTracker()``. Skipped stages report no completed task, so they
    are not counted as executed."""

    def __init__(self, sc) -> None:
        self.tracker = sc.statusTracker()

    def job_ids(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def counts(self, job_ids) -> dict[str, int]:
        jobs = stages = tasks = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it, so the forked Python workers' pages
    shared with their daemon count once across the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(exclude: set[int]) -> float:
    """Summed PSS of this process and its descendants (the driver JVM and
    its Python workers), leaving out the processes in *exclude* and their
    descendants."""
    kids = _children()
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        total_kb += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total_kb / 1024.0


class PeakRss:
    """Peak of ``tree_pss_mb``, sampled on a background thread from start
    until ``stop``. Processes in ``exclude`` and their descendants are left
    out."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.exclude))

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Take a last sample and stop sampling (idempotent)."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.exclude))

    def __exit__(self, *exc) -> None:
        self.stop()


def timed_steps(seconds: float, nominal_step_s: float) -> int:
    """How many steps a run times: enough to fill *seconds* at the nominal
    step time, at least two. The count depends only on the arguments, so
    every run of a workload does the same work whatever the machine's or
    the program's speed."""
    return max(2, math.ceil(seconds / nominal_step_s))


def step_stats(samples: list[float]) -> dict:
    """Median step time, its sample count, and the highest of p90/p99 that
    has at least ten samples beyond it."""
    out = {"p50": statistics.median(samples), "n": len(samples)}
    for q in (99, 90):
        if len(samples) * (100 - q) / 100 >= 10:
            out[f"p{q}"] = statistics.quantiles(samples, n=100)[q - 1]
            break
    return out
