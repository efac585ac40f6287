"""Spans around calls into the program's layers, with Spark metrics.

A span records name, start, end, parent and a request or round id.  With
tracing on, each span also runs under its own Spark job group; when the
span ends, the stage metrics of that group's jobs (executor run time, GC,
shuffle, spill, tasks) and the SQL metrics of the queries those jobs ran
(for example the bytes a ``MapInPandas`` node sent to Python workers) are
read from Spark's status stores and attached to the span.  Spans are kept
in memory and written out when the run ends.

With tracing off, :meth:`Tracer.span` records nothing and sets no job
group, so the untraced run measures the program alone.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import dataclass, field

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float | None:
    """A Spark SQL metric as rendered by the status store, as a number:
    sizes in bytes, timings in seconds, sums and averages as is.  Metrics
    with per-task statistics render as ``"total (min, med, max ...)\\n<v>
    (...)"``; the total is the value on the second line."""
    if text is None:
        return None
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return None
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: str | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: dict = field(default_factory=dict)
    sql: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.sid, "name": self.name, "parent": self.parent,
            "rid": self.rid, "start": self.start, "end": self.end,
            "jobs": self.jobs, "stages": self.stages, "sql": self.sql,
            "attrs": self.attrs,
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (overlapping children count once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = s.duration - covered
    return out


class SparkStats:
    """Reads stage and SQL metrics for a set of job ids from the status
    stores of one SparkSession."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen: list[tuple[set, dict]] = []

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> dict:
        tot = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0}
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    d = self._store.stageAttempt(sid, 0, False, None, False, None)._1()
                except Exception:  # a skipped stage has no attempt
                    continue
                tot["stages"] += 1
                tot["tasks"] += d.numCompleteTasks()
                tot["executor_run_s"] += d.executorRunTime() / 1e3
                tot["executor_cpu_s"] += d.executorCpuTime() / 1e9
                tot["gc_s"] += d.jvmGcTime() / 1e3
                tot["shuffle_write_bytes"] += d.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += d.shuffleReadBytes()
                tot["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                tot["input_bytes"] += d.inputBytes()
                tot["output_bytes"] += d.outputBytes()
        return tot

    def sql_metrics(self, job_ids: list[int]) -> dict:
        """Summed ``"<node>|<metric>"`` values over the SQL executions
        whose jobs are among ``job_ids``."""
        wanted = set(job_ids)
        out: dict[str, float] = {}
        for jobs, metrics in self._executions():
            if jobs and jobs <= wanted:
                for key, num in metrics.items():
                    out[key] = out.get(key, 0.0) + num
        return out

    def _executions(self) -> list[tuple[set, dict]]:
        """(job ids, metrics) per SQL execution, read once each: the list
        only grows, and an execution is finished before the span that ran
        it ends."""
        execs = self._sql.executionsList()
        for i in range(len(self._seen), execs.size()):
            e = execs.apply(i)
            jobs = {int(j) for j in re.findall(r"(\d+) ->", str(e.jobs()))}
            values = self._sql.executionMetrics(e.executionId())
            nodes = self._sql.planGraph(e.executionId()).allNodes()
            metrics: dict[str, float] = {}
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    num = parse_metric(v.get()) if v.isDefined() else None
                    if num is not None:
                        key = f"{node.name()}|{m.name()}"
                        metrics[key] = metrics.get(key, 0.0) + num
            self._seen.append((jobs, metrics))
        return self._seen


class Tracer:
    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._paused = False
        self._stats = SparkStats(spark) if enabled and spark is not None else None

    def _set_group(self, span: Span | None) -> None:
        sc = self._stats.sc
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"perfbench-{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None):
        """Time the body as one span; yields the span (None when off) so
        the caller can attach counts to ``span.attrs``."""
        if not self.enabled or self._paused:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None,
                 rid if rid is not None else (parent.rid if parent else None),
                 time.perf_counter())
        self._stack.append(s)
        if self._stats is not None:
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stats is not None:
                self._set_group(parent)
                s.jobs = self._stats.job_ids(f"perfbench-{s.sid}")
                s.stages = self._stats.stages(s.jobs)
                s.sql = self._stats.sql_metrics(s.jobs)
            self.spans.append(s)

    @contextlib.contextmanager
    def paused(self):
        """Run the body untraced: no spans and no job group of its own."""
        was, self._paused = self._paused, True
        try:
            yield
        finally:
            self._paused = was

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [dict(s.as_dict(), self_s=st[s.sid]) for s in self.spans]
