"""Measurement helpers that look at the engine only from outside.

- ``Spans``: an in-memory span recorder (name, start, end, parent,
  request id) with per-layer self time.
- ``StatusReader``: per-request Spark job, stage and SQL metrics read
  from the driver's status stores (they are kept with the UI disabled).
- ``tree_peak_rss_mb``: peak RSS of this process and every descendant
  (the JVM and its Python workers), read from ``/proc``.
"""

from __future__ import annotations

import math
import os
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


# --- statistics -----------------------------------------------------------


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (0 <= q <= 1)."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def gmean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_quantile(n: int) -> float:
    """Highest quantile with at least ten samples beyond it; the median
    when there are fewer than twenty samples."""
    return max(0.5, 1.0 - 10.0 / n) if n else 0.5


# --- process memory -------------------------------------------------------


def _children() -> dict[int, list[int]]:
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
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root_pid: int) -> list[int]:
    """Every live descendant of ``root_pid``."""
    kids = _children()
    out, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_peak_rss_mb(root_pid: int | None = None) -> dict[str, float]:
    """Peak RSS (``VmHWM``) of ``root_pid`` and all live descendants, in
    MiB, split into ``driver`` (the root), ``jvm`` and ``workers`` (every
    other descendant: Spark's Python workers and their daemon)."""
    root = root_pid or os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        name = fields.get("Name", "").strip()
        part = "driver" if pid == root else "jvm" if name == "java" else "workers"
        out[part] += kb / 1024.0
    return out


def cpu_ticks() -> tuple[int, int]:
    """``(all, steal)`` CPU ticks of the host view in ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


# --- spans ------------------------------------------------------------------


class Spans:
    """Record nested spans in memory; ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.records)
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.records[parent]["request"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request": request}
        self.records.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, request: int) -> dict[str, float]:
        """Per-span-name self time for one request: duration minus the
        part covered by direct children (children never overlap here:
        the client is single-threaded)."""
        recs = [(i, r) for i, r in enumerate(self.records) if r["request"] == request]
        child_time: dict[int, float] = {}
        for _, r in recs:
            if r["parent"] is not None:
                child_time[r["parent"]] = child_time.get(r["parent"], 0.0) + (
                    r["end"] - r["start"]
                )
        out: dict[str, float] = {}
        for i, r in recs:
            own = (r["end"] - r["start"]) - child_time.get(i, 0.0)
            out[r["name"]] = out.get(r["name"], 0.0) + own
        return out


# --- Spark status stores ------------------------------------------------------

_UNIT = {
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?[\d.]+)\s*(TiB|GiB|MiB|KiB|B|ns|µs|us|ms|s|m|h)\b")

# Spark SQL metric names of the Python-worker operators (Spark 4.1).
PYWORKER_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.init_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.recv_mb",
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric (seconds for times, MiB for sizes).

    Spark renders timing and size metrics as ``"total (min, med, max
    ...)\\n<total> (<min>, <med>, <max> ...)"``; the first value after
    the header line is the total.
    """
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


_SEP = "\u0001"
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)", re.S)
_ENTRY = re.compile(r"(\d+) -> (.*)", re.S)


def _strings(scala_iterable) -> list[str]:
    """A Scala collection's elements as strings, in one py4j call."""
    text = scala_iterable.mkString(_SEP)
    return text.split(_SEP) if text else []


class StatusReader:
    """Read one request's Spark work from the status stores.

    The request runs under its own job group; ``collect`` waits for the
    listener bus to drain, then sums every stage of every job in the
    group and every SQL execution started since ``begin``.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._sql_count = 0

    def begin(self, group: str) -> None:
        self.drain()
        self._sql_count = self.sql_store.executionsCount()
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def collect(self, group: str, t_start: float, t_end: float) -> dict[str, float]:
        """Metrics of ``group``; ``t_start``/``t_end`` are the request's
        wall-clock bounds in ``time.time()`` seconds."""
        self.drain()
        self.sc.setJobGroup("idle", "idle")
        m: dict[str, float] = {k: 0.0 for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
            "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
            "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
            "spark.shuffle_write_records", "sources.input_mb", "sources.input_rows",
            *PYWORKER_METRICS.values(),
        )}
        intervals = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(job_id)
            m["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for stage_id in map(int, _strings(job.stageIds())):
                try:
                    st = self.store.lastStageAttempt(stage_id)
                except Py4JJavaError:  # never submitted (a reused shuffle)
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += st.numTasks()
                m["spark.failed_tasks"] += st.numFailedTasks()
                m["spark.executor_run_s"] += st.executorRunTime() / 1e3
                m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["spark.gc_s"] += st.jvmGcTime() / 1e3
                m["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                m["spark.shuffle_write_records"] += st.shuffleWriteRecords()
                m["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
                m["spark.spill_mb"] += st.diskBytesSpilled() / 2**20
                m["sources.input_mb"] += st.inputBytes() / 2**20
                m["sources.input_rows"] += st.inputRecords()
        m["spark.job_s"] = _covered(intervals, t_start, t_end)
        n_sql = self.sql_store.executionsCount()
        executions = self.sql_store.executionsList(self._sql_count, n_sql - self._sql_count)
        for i in range(executions.size()):
            ex = executions.apply(i)
            wanted = {}
            for text in _strings(ex.metrics()):
                hit = _PLAN_METRIC.fullmatch(text)
                if hit and hit.group(1) in PYWORKER_METRICS:
                    wanted[hit.group(2)] = PYWORKER_METRICS[hit.group(1)]
            if not wanted:
                continue
            for entry in _strings(self.sql_store.executionMetrics(ex.executionId())):
                hit = _ENTRY.fullmatch(entry)
                if hit and hit.group(1) in wanted:
                    m[wanted[hit.group(1)]] += parse_metric(hit.group(2))
        return m


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
