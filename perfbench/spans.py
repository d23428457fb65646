"""Spans and Spark job statistics for the traced run.

The benchmark records spans from its own code only: :meth:`Tracer.wrap`
rebinds a module attribute of the program to a wrapper that opens a
span around each call, in this process only. Each span names a Spark job
group ``workload/op/phase`` and restores its parent's on exit, so every
Spark job can be attributed to the innermost span that launched it.

Spans and jobs are kept in memory and written when the run ends. Job and
stage figures come from Spark's ``AppStatusStore`` through py4j; the
store keeps only the last 1000 jobs and stages, so :meth:`Tracer.harvest`
runs after every op.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
    "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    op: int
    layer: str
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: int = 0
    stats: dict[str, float] = field(default_factory=dict)
    span: int | None = None


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(children.get(s.id, []), s.start, s.end) for s in spans}


def attribute(jobs: list[Job], spans: list[Span], slack: float = 0.005) -> None:
    """Set ``job.span`` to the innermost span whose job group matches and
    whose interval holds the job's submission (clock slack in seconds)."""
    by_group: dict[str, list[Span]] = {}
    for s in spans:
        by_group.setdefault(s.group, []).append(s)
    for j in jobs:
        inside = [
            s for s in by_group.get(j.group or "", ())
            if s.start - slack <= j.start <= s.end + slack
        ]
        j.span = max(inside, key=lambda s: s.start).id if inside else None


class Tracer:
    """Span recorder for one run. Disabled, every method is a no-op."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._op = 0
        self._op_name = ""
        self._last_job = -1
        self._seen: set[int] = set()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        group = f"{self.workload}/{self._op_name}/{name}"
        s = Span(len(self.spans), self._op, layer, name, group,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(group)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent.group if parent else None)
            self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one closed-loop op; harvests Spark's store after."""
        self._op += 1
        self._op_name = name
        with self.span("op", name):
            yield
        self.harvest()

    def wrapped(self, fn, layer: str, name: str):
        """``fn`` wrapped in a span, for callables the benchmark holds
        (registry entries, DAG task functions)."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def wrap(self, module, attr: str, layer: str) -> None:
        """Rebind ``module.attr`` to a span-opening wrapper (undone by
        :meth:`unwrap_all`)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        self._restore.append((module, attr, fn))
        setattr(module, attr, self.wrapped(fn, layer, attr))

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)

    # -- Spark statistics ----------------------------------------------
    def harvest(self, wait_s: float = 0.0) -> None:
        """Copy every job finished since the last harvest, with its
        stages' executor figures, out of the status store. The store is
        fed by Spark's listener bus, so a job that has just returned may
        not read as finished yet; ``wait_s`` polls for it."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        while self._harvest_once() and time.perf_counter() - t0 < wait_s:
            time.sleep(0.05)
        self.overhead_s += time.perf_counter() - t0

    def _harvest_once(self) -> bool:
        """One pass over the store; True when a new job is unfinished."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)  # newest first
        done_below, pending = None, False
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if done_below is None:
                done_below = jid
            if jid <= self._last_job:
                break
            if j.completionTime().isEmpty():
                done_below, pending = jid - 1, True
                continue
            if jid in self._seen:
                continue
            self._seen.add(jid)
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            job = Job(jid, group, j.submissionTime().get().getTime() / 1000.0,
                      j.completionTime().get().getTime() / 1000.0)
            job.stats = dict.fromkeys(STAGE_FIELDS, 0.0)
            ids = j.stageIds()
            for k in range(ids.size()):
                st = store.lastStageAttempt(ids.apply(k))
                if st.status().toString() == "SKIPPED":
                    continue
                job.stages += 1
                job.stats["tasks"] += st.numTasks()
                job.stats["failed_tasks"] += st.numFailedTasks()
                job.stats["executor_run_s"] += st.executorRunTime() / 1e3
                job.stats["executor_cpu_s"] += st.executorCpuTime() / 1e9
                job.stats["input_bytes"] += st.inputBytes()
                job.stats["output_bytes"] += st.outputBytes()
                job.stats["shuffle_read_bytes"] += st.shuffleReadBytes()
                job.stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                job.stats["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self.jobs.append(job)
        if done_below is not None:
            # jobs above the mark are looked at again next time: an
            # unfinished one is recorded once it finishes
            self._last_job = max(self._last_job, done_below)
        return pending

    def skip_jobs(self) -> None:
        """Forget jobs launched so far (set-up and warm-up)."""
        if not self.enabled:
            return
        self.harvest()
        self.jobs.clear()
        self.spans.clear()
        self.overhead_s = 0.0

    # -- summary -------------------------------------------------------
    def summary(self) -> dict[str, float]:
        """Per-op means of every traced figure, keyed by metric name."""
        attribute(self.jobs, self.spans)
        ops = [s for s in self.spans if s.parent is None]
        n = max(len(ops), 1)
        selfs = self_times(self.spans)
        span_of = {s.id: s for s in self.spans}
        out: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v / n

        for s in self.spans:
            if s.parent is not None:
                add(f"self_s.{s.layer}", selfs[s.id])
                add(f"dur_s.{s.layer}.{s.name}", s.duration)
                add(f"calls.{s.layer}", 1)
        root_of: dict[int, Span] = {}
        for s in self.spans:
            r = s
            while r.parent is not None:
                r = span_of[r.parent]
            root_of[s.id] = r
        by_op: dict[int, list[Job]] = {}
        for j in self.jobs:
            add("spark.jobs", 1)
            add("spark.stages", j.stages)
            for k, v in j.stats.items():
                add(f"spark.{k}", v)
            if j.span is not None:
                by_op.setdefault(root_of[j.span].id, []).append(j)
                add(f"jobs.{span_of[j.span].layer}.{span_of[j.span].name}", 1)
        for o in ops:
            iv = [(j.start, j.end) for j in by_op.get(o.id, [])]
            busy = covered(iv, o.start, o.end)
            add("spark.job_wall_s", busy)
            add("driver.only_s", o.duration - busy)
        add("trace.overhead_s", self.overhead_s)
        return out

    def dump(self) -> dict:
        return {
            "spans": [s.__dict__ for s in self.spans],
            "jobs": [j.__dict__ for j in self.jobs],
        }
