"""Spans around layer calls, and Spark's own counters read back per span.

Tracing is on only in a traced run (``--trace 1``). A span is recorded from
the benchmark's files, around a call into a layer's public function; the
eager functions a workload reaches indirectly (``Catalog.write`` inside
``run_pipeline``, ``ckpt.mark_done``, ...) are wrapped in place for the
traced operations only and restored after them. Each span tags the jobs it
starts with ``setJobGroup``; the status store (populated even with
``spark.ui.enabled=false``) then gives every job's stages: run time, CPU,
GC, shuffle write, spill and task counts. A job is charged to the span whose
group it carries, and a job without one (started from an engine worker
thread, which does not inherit the group) to the innermost span open when
it was submitted.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager, nullcontext

#: Spans whose Spark counters are reported (the per-layer budget of the
#: benchmark contract allows eight counters for each of these).
COUNTER_SPANS = (
    "sources", "parse", "enrich", "pipeline", "catalog", "checkpoint",
    "aggregate", "retention", "report", "dedup", "curation",
)
COUNTERS = (
    "task_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks",
    "failed_tasks", "driver_gap_s",
)


class Span:
    __slots__ = ("name", "group", "t0", "t1")

    def __init__(self, name: str, group: str):
        self.name, self.group = name, group
        self.t0 = time.time()
        self.t1 = None

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Collects spans for one traced operation at a time."""

    active = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._last_job = -1
        self.tallies: dict[str, float] = {}

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sc = self.spark.sparkContext
        with self._lock:
            sp = Span(name, f"perfbench-{next(self._ids)}")
            self.spans.append(sp)
        stack.append(sp)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            stack.pop()
            if stack:
                sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until :meth:`unwrap`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Run ``owner.attr`` inside span ``name`` until :meth:`unwrap`."""
        fn = getattr(owner, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self.patch(owner, attr, traced)

    def tally(self, key: str, n: float) -> None:
        with self._lock:  # wrapped writes also run on engine worker threads
            self.tallies[key] = self.tallies.get(key, 0) + n

    def walls(self, name: str, within: str | None = None) -> float:
        """Summed wall of the spans called ``name`` (only those inside a
        span called ``within``, if given)."""
        outer = [s for s in self.spans if s.name == within]
        return sum(
            s.wall for s in self.spans
            if s.name == name and (within is None or any(_within(s, o) for o in outer))
        )

    def count(self, name: str) -> int:
        return sum(s.name == name for s in self.spans)

    def covered(self) -> float:
        """Wall time inside at least one span (spans on engine worker
        threads overlap their callers')."""
        if not self.spans:
            return 0.0
        return _union([(s.t0, s.t1) for s in self.spans],
                      min(s.t0 for s in self.spans), max(s.t1 for s in self.spans))

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    def begin(self) -> None:
        """Start a traced operation: forget the previous one's spans and
        skip every job the status store already holds."""
        self.spans = []
        self.tallies = {}
        jobs = self._store().jobsList(None)
        self._last_job = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    # -- status store ------------------------------------------------------
    def _store(self):
        return self.spark._jsc.sc().statusStore()

    def collect(self) -> dict[str, dict[str, float]]:
        """Counters per span name for the operation since :meth:`begin`:
        the stage counters of every job charged to a span of that name, and
        ``driver_gap_s``: span wall minus the union of the intervals of the
        jobs that ran inside it (its own and its children's)."""
        store = self._store()
        jvm = self.spark._jvm
        jobs = store.jobsList(None)
        new_jobs = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                continue
            sub = j.submissionTime()
            done = j.completionTime()
            if sub.isEmpty():
                continue
            t0 = sub.get().getTime() / 1000.0
            t1 = done.get().getTime() / 1000.0 if not done.isEmpty() else time.time()
            group = j.jobGroup().get() if not j.jobGroup().isEmpty() else None
            stage_ids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
            new_jobs.append((group, t0, t1, stage_ids))
        wanted = {s for _, _, _, ids in new_jobs for s in ids}
        stages: dict[int, dict[str, float]] = {}
        if wanted:
            lst = store.stageList(
                jvm.java.util.ArrayList(), False, False, _empty_doubles(jvm),
                jvm.java.util.ArrayList(),
            )
            for i in range(lst.size()):
                st = lst.apply(i)
                sid = st.stageId()
                if sid not in wanted:
                    continue
                stages[sid] = {  # one entry per attempt would overwrite: sum them
                    k: stages.get(sid, {}).get(k, 0.0) + v for k, v in (
                        ("task_s", st.executorRunTime() / 1e3),
                        ("cpu_s", st.executorCpuTime() / 1e9),
                        ("gc_s", st.jvmGcTime() / 1e3),
                        ("shuffle_write_mb", st.shuffleWriteBytes() / 2**20),
                        ("spill_mb", st.diskBytesSpilled() / 2**20),
                        ("tasks", st.numCompleteTasks()),
                        ("failed_tasks", st.numFailedTasks()),
                        ("input_rows", st.inputRecords()),
                    )
                }
        by_group = {sp.group: sp for sp in self.spans}
        charged: dict[int, list] = {}
        for group, t0, t1, ids in new_jobs:
            sp = by_group.get(group) or self._innermost(t0)
            if sp is not None:
                charged.setdefault(id(sp), []).append((t0, t1, ids))
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            acc = out.setdefault(
                sp.name, {**dict.fromkeys(COUNTERS, 0.0), "input_rows": 0.0, "wall_s": 0.0}
            )
            acc["wall_s"] += sp.wall
            for _, _, ids in charged.get(id(sp), []):
                for sid in ids:
                    for k, v in stages.get(sid, {}).items():
                        acc[k] += v
            inside = [
                (t0, t1) for s in self.spans if _within(s, sp)
                for t0, t1, _ in charged.get(id(s), [])
            ]
            acc["driver_gap_s"] += sp.wall - _union(inside, sp.t0, sp.t1)
        return out

    def _innermost(self, t: float) -> Span | None:
        """The latest-opened span still open at ``t``."""
        open_at = [sp for sp in self.spans if sp.t0 <= t <= sp.t1]
        return max(open_at, key=lambda sp: sp.t0, default=None)


def _empty_doubles(jvm):
    return jvm.java.lang.reflect.Array.newInstance(jvm.java.lang.Double.TYPE, 0)


def _within(inner: Span, outer: Span) -> bool:
    return outer.t0 <= inner.t0 and inner.t1 <= outer.t1


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class _NullTracer:
    """Stands in for :class:`Tracer` in untraced operations."""

    active = False

    def span(self, name: str):
        return nullcontext()


NULL = _NullTracer()
