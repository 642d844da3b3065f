"""Spans around layer calls, plus the Spark jobs each call ran.

The traced run wraps public entry points of the engine (module
attributes and methods of the instances under test); nothing inside
``walker_spark`` changes. Each wrapped call

* records a span ``{id, name, start, end, parent, thread}`` in memory;
* tags the Spark jobs it submits with ``setJobGroup("pb:<id>")``.

After the run, :meth:`Tracer.collect_jobs` reads every job back from the
driver's status store (works with ``spark.ui.enabled=false``) and
attributes it to a span: by job group, or, for jobs submitted from
threads the wrapper never saw, to the narrowest span open at submission.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class JobStats:
    job_id: int
    start: float
    end: float
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input: int = 0
    spill: int = 0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float = 0.0
    end: float = 0.0
    jobs: list[JobStats] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._overhead_lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _enter(self, name: str) -> tuple[Span, str | None]:
        t_in = time.perf_counter()
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's
        # innermost open span, which submitted the pool work
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        span = Span(next(self._ids), name, parent.id if parent else None, threading.get_ident())
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"pb:{span.id}", name)
        stack.append(span)
        self._charge(time.perf_counter() - t_in)
        span.start = time.time()
        return span, prev_group

    def _exit(self, span: Span, prev_group: str | None) -> None:
        span.end = time.time()
        t_out = time.perf_counter()
        self._stack().pop()
        if prev_group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(prev_group, "")
        self.spans.append(span)
        self._charge(time.perf_counter() - t_out)

    def _charge(self, seconds: float) -> None:
        with self._overhead_lock:
            self.overhead_s += seconds

    @contextlib.contextmanager
    def span(self, name: str):
        """Span around a call made by the benchmark itself."""
        span, prev = self._enter(name)
        try:
            yield span
        finally:
            self._exit(span, prev)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` by its traced wrapper until :meth:`unpatch`."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name or attr, original))

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ---- Spark jobs -------------------------------------------------------

    def collect_jobs(self) -> None:
        """Attach every job in the status store to a span (re-runnable)."""
        from py4j.protocol import Py4JError, Py4JJavaError

        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(10_000)
        except Py4JError:  # no such method on this Spark: give the bus a moment
            time.sleep(1.0)
        status = jsc.statusStore()
        for s in self.spans:
            s.jobs.clear()
        by_id = {s.id: s for s in self.spans}
        jobs = status.jobsList(None)
        it = jobs.iterator()
        while it.hasNext():
            job = it.next()
            sub, done = job.submissionTime(), job.completionTime()
            if not sub.isDefined() or not done.isDefined():
                continue
            stats = JobStats(job.jobId(), sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = status.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue  # ran (and is counted) in an earlier job
                stats.tasks += st.numTasks()
                stats.run_s += st.executorRunTime() / 1e3
                stats.cpu_s += st.executorCpuTime() / 1e9
                stats.shuffle_read += st.shuffleReadBytes()
                stats.shuffle_write += st.shuffleWriteBytes()
                stats.input += st.inputBytes()
                stats.spill += st.memoryBytesSpilled()
            group = job.jobGroup()
            owner = None
            if group.isDefined() and str(group.get()).startswith("pb:"):
                owner = by_id.get(int(str(group.get())[3:]))
            if owner is None:
                covering = [s for s in self.spans if s.start <= stats.start <= s.end]
                owner = min(covering, key=lambda s: s.wall, default=None)
            if owner is not None:
                owner.jobs.append(stats)

    # ---- derived views ----------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree_jobs(self, span: Span, kids: dict[int, list[Span]]) -> list[JobStats]:
        jobs = list(span.jobs)
        for c in kids.get(span.id, []):
            jobs.extend(self.subtree_jobs(c, kids))
        return jobs

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the union of its children's
        intervals (children may overlap when they run on pool threads)."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
            )
            out[s.name] = out.get(s.name, 0.0) + s.wall - covered
        return out

    def spark_summary(self, spans: list[Span], cores: int) -> dict[str, float]:
        """Inclusive Spark work of ``spans`` (each with its subtree)."""
        kids = self.children()
        wall = sum(s.wall for s in spans)
        agg = JobStats(0, 0.0, 0.0)
        jobs = 0
        gap = 0.0
        for s in spans:
            sj = self.subtree_jobs(s, kids)
            jobs += len(sj)
            gap += s.wall - union_length(
                (max(j.start, s.start), min(j.end, s.end)) for j in sj if j.end > s.start
            )
            for j in sj:
                agg.tasks += j.tasks
                agg.run_s += j.run_s
                agg.cpu_s += j.cpu_s
                agg.shuffle_read += j.shuffle_read
                agg.shuffle_write += j.shuffle_write
                agg.input += j.input
                agg.spill += j.spill
        mb = 2**20
        return {
            "jobs": jobs,
            "tasks": agg.tasks,
            "executor_run_s": agg.run_s,
            "executor_cpu_s": agg.cpu_s,
            "busy_frac": agg.run_s / (cores * wall) if wall else 0.0,
            "driver_gap_s": gap,
            "shuffle_read_mb": agg.shuffle_read / mb,
            "shuffle_write_mb": agg.shuffle_write / mb,
            "input_mb": agg.input / mb,
            "spill_mb": agg.spill / mb,
        }

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "thread": s.thread,
                "start": s.start,
                "end": s.end,
                "jobs": [j.job_id for j in s.jobs],
            }
            for s in self.spans
        ]

