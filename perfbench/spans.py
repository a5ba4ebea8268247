"""Spans recorded from the benchmark's own code, Spark job attribution,
and per-span roll-ups from Spark's status store.

A span wraps one call into the engine: name, start, end, parent and
request id, plus free-form attributes. Spans stay in memory and are
written out when the run ends. While a span is open, the Spark job
group of the calling thread is ``<prefix>-<id>``, so every job the call
launches can be attributed to it afterwards through
``sc._jsc.sc().statusStore()``.

With tracing off, :meth:`Tracer.span` records nothing and sets no job
group; the end-to-end run measures the engine without this overhead.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    req: str | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """``prefix`` names this tracer's job groups (``<prefix>-<span id>``),
    so tracers that share one Spark session keep their jobs apart."""

    def __init__(self, enabled: bool, prefix: str = "span"):
        self.enabled = enabled
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Start tagging Spark jobs once the session exists."""
        if self.enabled:
            self._sc = sc
            if self._stack:
                self._set_group(self._stack[-1])

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{self.prefix}-{sid}", self.spans[sid].name)

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent].req
        s = Span(len(self.spans), name, parent, req, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def add(self, name: str, start: float, end: float, **attrs) -> Span:
        """Record a span timed elsewhere (another thread) as a child of
        the innermost open span; it gets no job group."""
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, None, start, end, attrs)
        if self.enabled:
            self.spans.append(s)
        return s

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover
        (children may overlap when one ran on another thread)."""
        kids = self.children()
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.id] = s.dur - covered
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": selfs[s.id]}) + "\n")


@dataclass
class JobStats:
    """Spark counters summed over the jobs of one span."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    job_ms: float = 0.0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # max ÷ median task run time of the span's longest stage
    task_skew: float = 0.0
    # (call site, wall ms) of each job: the phase split of a call
    job_sites: list = field(default_factory=list)
    # (run ms, stage id, attempt) of the longest stage
    _longest: tuple[float, int, int] = (0.0, -1, -1)

    def add(self, other: "JobStats") -> "JobStats":
        """Sum ``other`` into this; the skew is the longer stage's."""
        for f in ("jobs", "stages", "tasks", "tasks_failed", "job_ms", "run_ms", "cpu_ms",
                  "gc_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes", "job_sites"):
            setattr(self, f, getattr(self, f) + getattr(other, f))
        if other._longest[0] > self._longest[0]:
            self._longest, self.task_skew = other._longest, other.task_skew
        return self


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def rollup_jobs(sc, prefix: str) -> dict[int, JobStats]:
    """Per-span Spark counters from the status store (UI off is fine:
    the store is fed by the listener bus, not the UI).

    Each stage is counted once, in the first job that ran it; a later
    job that lists it as skipped adds nothing."""
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    no_q = gw.new_array(gw.jvm.double, 0)
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out: dict[int, JobStats] = {}
    seen_stages: set[int] = set()
    jobs = sorted(_seq(store.jobsList(None)), key=lambda j: j.jobId())
    for j in jobs:
        group = _opt(j.jobGroup())
        head, _, sid = (group or "").rpartition("-")
        if head != prefix:
            continue
        st = out.setdefault(int(sid), JobStats())
        st.jobs += 1
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is not None and done is not None:
            st.job_ms += done.getTime() - sub.getTime()
            st.job_sites.append((j.name(), done.getTime() - sub.getTime()))
        for stage in _seq(j.stageIds()):
            if stage in seen_stages:
                continue
            seen_stages.add(stage)
            for sd in _seq(store.stageData(stage, False, None, False, no_q)):
                if sd.status().toString() == "SKIPPED":
                    continue
                st.stages += 1
                st.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                st.tasks_failed += sd.numFailedTasks()
                st.run_ms += sd.executorRunTime()
                st.cpu_ms += sd.executorCpuTime() / 1e6
                st.gc_ms += sd.jvmGcTime()
                st.input_bytes += sd.inputBytes()
                st.shuffle_write_bytes += sd.shuffleWriteBytes()
                st.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.executorRunTime() > st._longest[0]:
                    st._longest = (float(sd.executorRunTime()), stage, sd.attemptId())
    for st in out.values():
        _, stage, attempt = st._longest
        if stage < 0:
            continue
        dist = _opt(store.taskSummary(stage, attempt, q))
        if dist is None:
            continue
        run = dist.executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        st.task_skew = mx / med if med > 0 else 1.0
    return out


def subtree_stats(tracer: Tracer, root: Span, per_span: dict[int, JobStats]) -> JobStats:
    """Counters of ``root`` and every span below it, summed."""
    kids = tracer.children()
    total = JobStats()
    stack = [root]
    while stack:
        s = stack.pop()
        stack.extend(kids.get(s.id, ()))
        if s.id in per_span:
            total.add(per_span[s.id])
    return total
