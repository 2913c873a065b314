"""Per-layer tracing from outside the program.

The benchmark calls each layer's public functions through a tracer.  The
untraced tracer (``Tracer(None)``) calls the function and nothing else — no
timer, no job group, no status-store read — so an untraced run measures the
program alone.  The traced tracer gives each call its own Spark job group,
times it, and after it returns rolls up the jobs of that group from Spark's
status store:

    statusTracker().getJobIdsForGroup(group)
        -> statusStore().job(id).stageIds()
        -> statusStore().lastStageAttempt(stage_id)

A stage skipped because an exchange was reused has no attempt (or an attempt
with no tasks); it contributes nothing.  Stage ids shared by several jobs of
one group are counted once.
"""

from __future__ import annotations

import itertools
import time
from dataclasses import dataclass, field

from kgbench.spec import SPARK_COUNTERS

COUNTERS = tuple(name for name, _, _ in SPARK_COUNTERS)


def _java_error():
    from py4j.protocol import Py4JJavaError

    return Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None = None
    counters: dict = field(default_factory=dict)


class Tracer:
    """``Tracer(None)`` is off; ``Tracer(spark, slots)`` records spans."""

    def __init__(self, spark=None, slots: int = 1):
        self.on = spark is not None
        self._spark = spark
        self._slots = slots
        self._seq = itertools.count()
        self._stack: list[int] = []
        self.spans: list[Span] = []

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)``; when on, as its own job group and
        span named ``name``, with the group's Spark counters attached.
        Calls are leaves: they are not nested in one another."""
        if not self.on:
            return fn(*args, **kwargs)
        sc = self._spark.sparkContext
        group = f"kgbench-{next(self._seq)}-{name}"
        sp = self._open(name, group)
        sc.setJobGroup(group, name)
        sp.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            sc._jsc.clearJobGroup()
            sp.counters = self.rollup(group, sp.end - sp.start)

    def span(self, name: str, fn, *args, **kwargs):
        """Time ``fn`` as a span with no Spark rollup of its own — a
        benchmark-side grouping (one commit) whose calls carry the counters."""
        if not self.on:
            return fn(*args, **kwargs)
        sp = self._open(name, None)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def _open(self, name: str, group: str | None) -> Span:
        sp = Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, group)
        self.spans.append(sp)
        return sp

    def rollup(self, group: str, wall_s: float) -> dict:
        """Sum the stage metrics of every job in ``group``."""
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            seq = store.job(j).stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
        c = dict.fromkeys(COUNTERS, 0.0)
        c["wall_s"] = wall_s
        c["jobs"] = float(len(job_ids))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except _java_error() as e:
                if "NoSuchElementException" in str(e.java_exception):
                    continue  # skipped by exchange reuse: never attempted
                raise
            c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            c["executor_run_s"] += st.executorRunTime() / 1e3
            c["executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            c["scan_rows"] += st.inputRecords()
            c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
        c["slot_util"] = c["executor_run_s"] / (wall_s * self._slots) if wall_s > 0 else 0.0
        return c
