"""Spans, process-tree accounting and the per-layer probe.

Spans (run -> pass -> op -> build/action or batch/read) are kept in
memory and written out when the run ends. ``NullTracer`` is what the
untraced run uses, so end-to-end numbers pay no tracing cost.

The layer probe reads Spark's own status stores after each operation:
jobs, stages and tasks from ``sc._jsc.sc().statusStore()`` (filtered by
the operation's job groups), operator metrics from the SQL status store,
persisted blocks from ``getRDDStorageInfo`` and streaming progress from
each query's ``recentProgress``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1e6


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run": self.run_id, **s.__dict__, "self_s": own[s.id]}) + "\n")


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def write(self, path: str) -> None:
        pass


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


# -- process tree (/proc) ----------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 3 (state) on


def descendants(root: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parent[int(d)] = int(st[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants, plus what reaped
    children left in their parents' cutime/cstime."""
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            pass
    return total / MB


def reset_peak_rss(root: int) -> None:
    """Restart every live tree process's VmHWM from its current RSS."""
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def process_age_s() -> float:
    """Seconds since this process was started. The kernel records the
    start in ticks since boot, so both readings are on the boot clock."""
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(_stat(os.getpid())[19]) / CLK_TCK


# -- Spark status stores -----------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1,234', '9 ms', '79.0 KiB' or the
    'total (min, med, max ...)' form whose second line starts with the total.
    Times come back in seconds, sizes in bytes."""
    lines = text.strip().split("\n")
    m = _NUM.match((lines[1] if len(lines) > 1 else lines[0]).strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


SQL_METRICS = {
    "number of output rows": "rows",
    "time to run Python workers": "py_run",
    "time to start Python workers": "py_boot",
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_returned",
}


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class LayerProbe:
    """Counters for one operation, read after it ends."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_exec = self._max_exec_id()
        self.taken: set[int] = set()

    def _max_exec_id(self) -> int:
        n = self.sql.executionsCount()
        return max((e.executionId() for e in _seq(self.sql.executionsList(max(0, n - 1), 1))), default=-1)

    def settle(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, groups: list[str]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})

    def take_jobs(self, groups: list[str]) -> list[int]:
        """Jobs of ``groups`` not returned by an earlier call: a streaming
        query runs every micro-batch under the same job group."""
        new = [j for j in self.jobs(groups) if j not in self.taken]
        self.taken.update(new)
        return new

    def job_counters(self, job_ids: list[int]) -> dict:
        c = dict(jobs=len(job_ids), stages=0, tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                 input_b=0, shuffle_w=0, shuffle_r=0, fetch_wait_s=0.0, spill_b=0, failed=0)
        for jid in job_ids:
            for sid in _seq(self.store.job(jid).stageIds()):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stages never ran
                    continue
                if sd.numCompleteTasks() == 0 and sd.numFailedTasks() == 0:
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["failed"] += sd.numFailedTasks()
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["input_b"] += sd.inputBytes()
                c["shuffle_w"] += sd.shuffleWriteBytes()
                c["shuffle_r"] += sd.shuffleReadBytes()
                c["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                c["spill_b"] += sd.diskBytesSpilled()
        return c

    def sql_counters(self) -> dict:
        """Sums of the tracked SQL metrics over executions since the last call."""
        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        n = self.sql.executionsCount()
        new = [e for e in _seq(self.sql.executionsList(max(0, n - 256), 256))
               if e.executionId() > self.last_exec]
        for e in new:
            names = {}
            for m in _seq(e.metrics()):
                key = SQL_METRICS.get(m.name())
                if key:
                    names[m.accumulatorId()] = key
            if not names:
                continue
            it = self.sql.executionMetrics(e.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                key = names.get(kv._1())
                if key:
                    out[key] += parse_metric(kv._2())
        if new:
            self.last_exec = max(self.last_exec, max(e.executionId() for e in new))
        return out

    def held_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self.jsc.getRDDStorageInfo())


def stream_counters(progress: list[dict]) -> dict:
    """Micro-batch numbers from a query's ``recentProgress``."""
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
    ops = [s for p in progress for s in p.get("stateOperators", [])]
    return dict(
        batches=len(progress),
        batch_s=trig,
        sink_s=sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3,
        commit_s=sum(s.get("commitTimeMs", 0) for s in ops) / 1e3,
        state_rows=max((s.get("numRowsTotal", 0) for s in ops), default=0),
        state_b=max((s.get("memoryUsedBytes", 0) for s in ops), default=0),
    )


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
