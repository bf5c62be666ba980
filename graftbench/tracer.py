"""Span tracer for the traced benchmark run.

``Tracer.wrap`` replaces a public method of an engine class with a
timing wrapper (class-level, so every instance and every call from
inside the engine is seen). Each call records one span: name, wall
start/end, perf-counter start/end and the parent span. Spans stay in
memory until the end of the run (see ``layers.py``).

Self time is a span's duration minus the union of its children's
intervals (children may overlap when the engine writes on several
driver threads). A span opened on a thread with no open span of its
own takes the main thread's innermost span as parent, so the engine's
write threads nest under the call that spawned them.

Spark jobs are attributed after the fact: the JVM status store gives
every job's submission time, and a job belongs to the innermost
(latest-started) span whose wall interval contains that time.
"""

from __future__ import annotations

import bisect
import threading
import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "parent", "t0", "t1", "w0", "w1", "jobs", "tasks")

    def __init__(self, name: str, parent: int | None):
        self.name = name
        self.parent = parent
        self.t0 = time.perf_counter()
        self.w0 = time.time()
        self.t1 = self.w1 = None
        self.jobs = 0
        self.tasks = 0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.wall0 = time.time()
        self.counters: dict[str, float] = {}
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.main_thread().ident
        self._patches: list[tuple[type, str, object]] = []

    # ----- recording ---------------------------------------------------------

    def _stack(self) -> list[int]:
        return self._stacks.setdefault(threading.get_ident(), [])

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main = self._stacks.get(self._main) or [None]
            parent = main[-1]
        idx = len(self.spans)
        rec = Span(name, parent)
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec.t1 = time.perf_counter()
            rec.w1 = time.time()
            stack.pop()

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    def wrap(self, cls: type, attr: str, name: str, post=None) -> None:
        """Time every call of ``cls.attr`` as span ``name``; ``post(out,
        args)`` runs after the span closes (untimed bookkeeping)."""
        orig = cls.__dict__[attr]
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if post is not None:
                post(out, args)
            return out

        traced.__name__ = getattr(orig, "__name__", attr)
        traced.__doc__ = getattr(orig, "__doc__", None)
        setattr(cls, attr, traced)
        self._patches.append((cls, attr, orig))

    def uninstall(self) -> None:
        for cls, attr, orig in reversed(self._patches):
            setattr(cls, attr, orig)
        self._patches.clear()

    # ----- attribution -------------------------------------------------------

    def attribute_jobs(self, jobs: list[tuple[float, int]]) -> None:
        """``jobs`` = (submission wall time, task count) per Spark job.
        Each job goes to the innermost span open at its submission."""
        order = sorted(range(len(self.spans)), key=lambda i: self.spans[i].w0)
        starts = [self.spans[i].w0 for i in order]
        for when, tasks in jobs:
            # candidates: spans started at or before `when`, latest first
            k = bisect.bisect_right(starts, when)
            while k > 0:
                k -= 1
                s = self.spans[order[k]]
                if s.w1 is not None and s.w1 >= when:
                    s.jobs += 1
                    s.tasks += tasks
                    break

    # ----- reporting ---------------------------------------------------------

    def self_times(self) -> list[float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None and s.t1 is not None:
                children.setdefault(s.parent, []).append((s.t0, s.t1))
        out = []
        for i, s in enumerate(self.spans):
            dur = (s.t1 or s.t0) - s.t0
            covered, end = 0.0, s.t0
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, end), min(b, s.t1 or s.t0)
                if b > a:
                    covered += b - a
                    end = b
            out.append(max(dur - covered, 0.0))
        return out

    def by_name(self) -> dict[str, dict[str, float]]:
        """name -> {calls, s, self_s, jobs, jobs_incl, tasks}: ``s`` and
        ``jobs_incl`` include the span's descendants, ``self_s`` and
        ``jobs`` do not."""
        jobs_incl = [0] * len(self.spans)
        for s in self.spans:
            p = s.parent
            while p is not None:
                jobs_incl[p] += s.jobs
                p = self.spans[p].parent
        agg: dict[str, dict[str, float]] = {}
        for s, self_s, incl in zip(self.spans, self.self_times(), jobs_incl):
            a = agg.setdefault(
                s.name,
                {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "jobs_incl": 0, "tasks": 0},
            )
            a["calls"] += 1
            a["s"] += (s.t1 or s.t0) - s.t0
            a["self_s"] += self_s
            a["jobs"] += s.jobs
            a["jobs_incl"] += s.jobs + incl
            a["tasks"] += s.tasks
        return agg

    def overhead_per_span_s(self, n: int = 20000) -> float:
        """Cost of one wrapped call with an empty body, measured here:
        the tracer's own cost per recorded span."""

        class _Probe:
            def f(self):
                return None

        probe = Tracer()
        probe.wrap(_Probe, "f", "probe")
        obj = _Probe()
        t0 = time.perf_counter()
        for _ in range(n):
            obj.f()
        per = (time.perf_counter() - t0) / n
        probe.uninstall()
        return per


def spark_jobs(spark) -> list[tuple[float, int]]:
    """(submission wall time, task count) of every job the JVM status
    store still holds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        sub = j.submissionTime()
        if sub.isDefined():
            out.append((sub.get().getTime() / 1000.0, int(j.numTasks())))
    return out


def udf_python_seconds(spark, func_names: dict[str, str]) -> dict[str, float]:
    """Cumulative Python time of named UDF functions from the session's
    perf profiler (``spark.sql.pyspark.udf.profiler=perf``).
    ``func_names`` maps the Python function name to a metric name."""
    out = {metric: 0.0 for metric in func_names.values()}
    results = spark._profiler_collector._perf_profile_results
    for stats in results.values():
        for (_file, _line, fn), (_cc, _nc, _tt, ct, _callers) in stats.stats.items():
            if fn in func_names:
                out[func_names[fn]] += ct
    return out
