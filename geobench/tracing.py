"""Measurement plumbing for the benchmark: spans, Spark counters, memory.

Everything here observes the engine from outside: spans are opened by the
benchmark around its own calls into each layer, Spark counters come from
the status REST API, and memory is read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass


def quartiles(values: list[float]) -> dict:
    """Median, quartiles and the highest percentile ``values`` supports.

    A percentile is reported only when at least ten samples lie beyond
    it; with fewer samples the maximum stands in for the tail.
    """
    vals = sorted(values)
    n = len(vals)
    out = {"n": n, "median": statistics.median(vals), "max": vals[-1]}
    if n >= 2:
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out.update(p25=q1, p75=q3)
    for pct in (99.9, 99, 90, 50):
        if n * (1 - pct / 100) >= 10:
            out[f"p{pct:g}"] = vals[min(n - 1, int(n * pct / 100))]
            break
    return out


@dataclass(eq=False)
class Span:
    name: str
    parent: Span | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans are written out once, at the end.

    A span's self time is its duration minus the part of it covered by
    its direct children; a name's self time sums all spans of that name.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, self._stack[-1] if self._stack else None,
                 time.perf_counter())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    def _self(self, span: Span) -> float:
        covered = _union_length(
            [(c.start, c.end) for c in self.spans if c.parent is span])
        return span.duration - covered

    def self_time(self, name: str) -> float:
        return sum(self._self(s) for s in self.spans if s.name == name)

    def duration(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        origin = min((s.start for s in self.spans), default=0.0)
        rows = [
            {"name": s.name, "parent": s.parent.name if s.parent else None,
             "start_s": s.start - origin, "end_s": s.end - origin,
             "self_s": self._self(s)}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# Raised so that no stage of a traced run is evicted from the status store
# before it is read; eviction is what produced negative shuffle deltas when
# counters were taken as differences of application totals.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "10000",
}

_STAGE_SUMS = {
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_records": "inputRecords",
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "tasks": "numTasks",
}


class SparkCounters:
    """Per-job-group Spark counters read from the status REST API.

    Each measured piece of work runs under its own job group; its counters
    are the sums over the stages of that group's jobs (each stage counted
    once, skipped stages contribute nothing), so they never depend on what
    the status store kept from earlier work.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        if not self.sc.uiWebUrl:
            raise RuntimeError("the Spark UI must be enabled for counters")
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name, False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def read(self, name: str) -> dict:
        # The status store is fed asynchronously; drain the listener bus so
        # the group's last stages are complete before they are summed.
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        stage_ids = {
            sid for j in self._get("/jobs") if j.get("jobGroup") == name
            for sid in j["stageIds"]
        }
        out = {k: 0 for k in _STAGE_SUMS}
        out["spill_bytes"] = 0
        for st in self._get("/stages?details=false"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            for k, src in _STAGE_SUMS.items():
                out[k] += int(st.get(src, 0))
            out["spill_bytes"] += (int(st["memoryBytesSpilled"])
                                   + int(st["diskBytesSpilled"]))
        return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (JVM, workers)."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's resident size on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
