"""Spans around the benchmark's calls into the program, and Spark's own
counts attributed to them by job group.

Spans live in memory and are written out once, when the run ends. A span's
self time is its duration minus the part of it its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

from perfbench.stats import idle_gap, union_length

PACKAGE = "twitter_event_stream_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """Span recorder. Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, request))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, summed over its spans."""
        return totals_by_name(self.spans, self_time_all(self.spans))

    def durations(self) -> dict[str, float]:
        """Seconds per span name, children included."""
        return totals_by_name(self.spans, [s.end - s.start for s in self.spans])

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s.name] += 1
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time_all(spans: list[Span]) -> list[float]:
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children[i], s.start, s.end)
        for i, s in enumerate(spans)
    ]


def totals_by_name(spans: list[Span], values: list[float]) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for s, v in zip(spans, values):
        out[s.name] += v
    return dict(out)


def wrap_function(tracer: Tracer, module, name: str, span_name: str) -> None:
    """Record a span around every call of ``module.name``, wherever the
    program's modules bound that function."""
    orig = getattr(module, name)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    for modname, mod in list(sys.modules.items()):
        if modname.startswith(PACKAGE) and getattr(mod, name, None) is orig:
            setattr(mod, name, traced)


def traced_callable(tracer: Tracer, fn, span_name: str):
    """Wrap a callable the program returned (a foreachBatch handler)."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return traced


SPARK_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "idle_gap_ms",
    "executor_run_ms", "executor_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class SparkCounts:
    """Jobs, stages, tasks and task metrics of one job group, read from the
    application status store right after the group's work ends (the store
    keeps only the newest ``spark.ui.retained*`` entries, so a group is
    read before later work can evict it; stages are reached through the
    group's jobs, never by the store's list length)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.totals: dict[str, float] = defaultdict(float)
        self.ops = 0
        self.read_s = 0.0

    def record(self, group: str, lo_ms: float, hi_ms: float, ops: int = 1) -> None:
        """Add the group's counts to the totals; ``ops`` is how many
        operations (calls or micro-batches) the group covers."""
        t0 = time.perf_counter()
        got = dict.fromkeys(SPARK_KEYS, 0.0)
        intervals = []
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        got["jobs"] = len(job_ids)
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in list(info.stageIds) if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted
                    continue
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                got["stages"] += 1
                got["tasks"] += st.numTasks()
                got["failed_tasks"] += st.numFailedTasks()
                got["executor_run_ms"] += st.executorRunTime()
                got["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                got["shuffle_read_bytes"] += st.shuffleReadBytes()
                got["shuffle_write_bytes"] += st.shuffleWriteBytes()
                got["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                tasks = self.store.taskList(sid, st.attemptId(), 1_000_000)
                for k in range(tasks.size()):
                    td = tasks.apply(k)
                    start = td.launchTime().getTime()
                    dur = td.duration()
                    end = start + (dur.get() if dur.isDefined() else 0)
                    intervals.append((start, end))
        got["idle_gap_ms"] = idle_gap(lo_ms, hi_ms, intervals)
        for k, v in got.items():
            self.totals[k] += v
        self.ops += ops
        self.read_s += time.perf_counter() - t0

    def sql_duration_ms(self, group: str) -> float:
        """Duration of the newest SQL execution that ran jobs of ``group``."""
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        n = self.sql_store.executionsCount()
        recent = self.sql_store.executionsList(max(0, n - 20), min(n, 20))
        best = None
        for i in range(recent.size()):
            ex = recent.apply(i)
            ex_jobs = ex.jobs().keySet()
            if any(ex_jobs.contains(j) for j in jobs) and ex.completionTime().isDefined():
                if best is None or ex.submissionTime() > best.submissionTime():
                    best = ex
        if best is None:
            return 0.0
        return float(best.completionTime().get().getTime() - best.submissionTime())

    def per_op(self) -> dict[str, float]:
        ops = max(self.ops, 1)
        out = {f"spark.{k}": self.totals[k] / ops for k in SPARK_KEYS if k != "failed_tasks"}
        out["spark.task_retry_share"] = (
            self.totals["failed_tasks"] / self.totals["tasks"] if self.totals["tasks"] else 0.0
        )
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        got = phases.get(name)
        out[name] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


def traced_collect(ctx, group: str, build) -> tuple:
    """``build()`` a DataFrame and collect it under job group ``group``;
    returns (df, rows). Traced, adds the group's Spark counts, the Catalyst
    phase times and the result-transfer time (collect wall minus the SQL
    execution's own duration) to ``ctx.layers``."""
    with job_group(ctx.spark, group):
        lo = now_ms()
        with ctx.tracer.span("operators.build"):
            df = build()
        t1 = time.perf_counter()
        with ctx.tracer.span("collect"):
            rows = df.collect()
        collect_ms = (time.perf_counter() - t1) * 1000.0
        hi = now_ms()
    if ctx.traced:
        ctx.counts.record(group, lo, hi)
        for phase, ms in catalyst_phases(df).items():
            ctx.layers[f"catalyst.{phase}_ms"] += ms
        ctx.layers["collect.transfer_ms"] += max(0.0, collect_ms - ctx.counts.sql_duration_ms(group))
    return df, rows


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def now_ms() -> float:
    return time.time() * 1000.0
