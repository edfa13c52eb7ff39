"""Spans around benchmark calls, and the Spark event-log reader that
turns them into per-layer metrics.

A :class:`Tracer` opens a span around each call the benchmark makes.
While a span is open, every Spark job the driver thread submits carries
the span id as its job group (``SparkContext.setJobGroup``), so the
event log attributes each job, and through it each stage and task, to
exactly one span. Spans nest; a span's metrics include its descendants'.

The event log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
so it is one JSON line per listener event.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# task-level SQL metrics of the Python-worker operators (Arrow UDFs,
# mapInPandas, applyInPandas, ...) → per-layer metric name, scale to s / bytes
PYTHON_ACCUMS = {
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.sent_bytes", 1.0),
    "data returned from Python workers": ("python.returned_bytes", 1.0),
}
# span ids are unique across tracers: they become job group ids
_SPAN_IDS = itertools.count()
TASK_SUMS = (
    "executor_cpu_s", "gc_s", "shuffle_bytes", "scan_rows",
    "bytes_written", "rows_written",
    *(m for m, _ in PYTHON_ACCUMS.values()),
)


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    t0: float
    t1: float = 0.0
    children: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; tags jobs with the innermost open span when ``sc`` is
    given. ``Tracer(None)`` is the untraced run: spans cost nothing."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: dict[str, Span] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{next(_SPAN_IDS)}", name, parent and parent.id, time.time())
        self.spans[s.id] = s
        if parent:
            parent.children.append(s.id)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
            else:
                self.sc.setJobGroup("outside-spans", "not attributed")


@dataclass
class Job:
    id: int
    group: str | None
    t0: float
    t1: float = 0.0
    stages: list[int] = field(default_factory=list)


def read_event_log(path: str) -> tuple[dict[int, Job], dict[int, dict], dict[int, list[float]]]:
    """Parse one uncompressed event log.

    Returns jobs by id, per-stage task sums (``TASK_SUMS`` keys) and
    per-stage task run times (s). A stage belongs to the lowest job id
    that lists it: later jobs list an already-computed shuffle stage
    again, as skipped.
    """
    jobs: dict[int, Job] = {}
    sums: dict[int, dict] = defaultdict(lambda: dict.fromkeys(TASK_SUMS, 0.0))
    task_times: dict[int, list[float]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1e3, stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].t1 = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                _add_task(ev, sums[ev["Stage ID"]], task_times[ev["Stage ID"]])
    return jobs, dict(sums), dict(task_times)


def _add_task(ev: dict, acc: dict, times: list[float]) -> None:
    m = ev.get("Task Metrics") or {}
    run_s = m.get("Executor Run Time", 0) / 1e3
    times.append(run_s)
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    acc["scan_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    out = m.get("Output Metrics") or {}
    acc["bytes_written"] += out.get("Bytes Written", 0)
    acc["rows_written"] += out.get("Records Written", 0)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        hit = PYTHON_ACCUMS.get(a.get("Name"))
        if hit and a.get("Update") is not None:
            acc[hit[0]] += float(a["Update"]) * hit[1]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class SpanMetrics:
    """Per-span layer metrics from a tracer's spans plus an event log."""

    def __init__(self, tracer: Tracer, log_path: str,
                 window: tuple[float, float] = (float("-inf"), float("inf"))):
        """``window``: wall-clock bounds of the traced phase; jobs outside
        every span count as unattributed only when they start inside it."""
        self.spans = tracer.spans
        jobs, stage_sums, stage_times = read_event_log(log_path)
        owner: dict[int, int] = {}
        for j in sorted(jobs.values(), key=lambda j: j.id):
            for st in j.stages:
                owner.setdefault(st, j.id)
        self.jobs_by_span: dict[str, list[Job]] = defaultdict(list)
        self.unattributed = 0
        for j in jobs.values():
            if j.group in self.spans:
                self.jobs_by_span[j.group].append(j)
            elif window[0] <= j.t0 <= window[1]:
                self.unattributed += 1
        self.stages_by_job: dict[int, list[int]] = defaultdict(list)
        for st, jid in owner.items():
            self.stages_by_job[jid].append(st)
        self.stage_sums = stage_sums
        self.stage_times = stage_times

    def descendants(self, sid: str) -> list[str]:
        """``sid`` and every span below it, except ``probe.`` spans
        (benchmark-only work such as counting a MERGE source)."""
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c for c in self.spans[s].children
                        if not self.spans[c].name.startswith("probe."))
        return out

    def own_jobs(self, sid: str) -> int:
        """Jobs tagged with exactly this span (children excluded)."""
        return len(self.jobs_by_span.get(sid, []))

    def self_s(self, sid: str) -> float:
        s = self.spans[sid]
        return s.wall - sum(self.spans[c].wall for c in s.children)

    def of(self, sids: list[str]) -> dict[str, float]:
        """Inclusive metrics summed over the spans ``sids`` (and their
        descendants): wall, jobs, job_s (union of job intervals),
        driver_s (wall − job_s), task sums and the worst stage's skew.
        Time spent in ``probe.`` spans is taken out of the wall."""
        every = {d for sid in sids for d in self.descendants(sid)}
        probes = {c for d in every for c in self.spans[d].children} - every
        js = [j for d in every for j in self.jobs_by_span.get(d, [])]
        wall = (sum(self.spans[s].wall for s in sids)
                - sum(self.spans[p].wall for p in probes))
        job_s = _union_s([(j.t0, j.t1) for j in js if j.t1 >= j.t0])
        out = {"wall_s": wall, "jobs": float(len(js)), "job_s": job_s,
               "driver_s": max(wall - job_s, 0.0), "task_skew": 1.0}
        out.update(dict.fromkeys(TASK_SUMS, 0.0))
        for j in js:
            for st in self.stages_by_job.get(j.id, []):
                for k, v in self.stage_sums.get(st, {}).items():
                    out[k] += v
                times = self.stage_times.get(st, [])
                med = statistics.median(times) if len(times) >= 2 else 0.0
                if med > 0:
                    out["task_skew"] = max(out["task_skew"], max(times) / med)
        return out

    def named(self, name: str) -> list[str]:
        return [s.id for s in self.spans.values() if s.name == name]

    def named_prefix(self, prefix: str) -> list[str]:
        return [s.id for s in self.spans.values() if s.name.startswith(prefix)]
