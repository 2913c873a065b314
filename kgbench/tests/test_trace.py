"""The tracer does nothing when it is off, and rolls up the status store
when it is on.  A fake SparkContext records every call made on it."""

import time

import pytest

from kgbench import trace


class Recorder:
    """Stands in for a SparkSession; any attribute access is recorded."""

    def __init__(self):
        self.touched = []

    def __getattr__(self, name):
        self.touched.append(name)
        raise AssertionError(f"tracer touched spark.{name}")


def test_off_tracer_calls_through_without_spark_or_timers(monkeypatch):
    tr = trace.Tracer(None)
    clock_reads = []
    monkeypatch.setattr(time, "perf_counter", lambda: clock_reads.append(1) or 0.0)
    assert tr.call("layer.fn", lambda a, b=0: a + b, 2, b=3) == 5
    assert tr.span("commit", lambda: "x") == "x"
    assert tr.spans == []
    assert clock_reads == []  # no timer around the call
    assert not tr.on


def test_off_tracer_propagates_exceptions_untouched():
    tr = trace.Tracer(None)
    with pytest.raises(KeyError):
        tr.call("layer.fn", lambda: {}["missing"])


# --- a fake status store, shaped like Spark's v1 API objects -------------


class Seq:
    def __init__(self, items):
        self.items = list(items)

    def size(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class Stage:
    def __init__(self, tasks, run_ms, cpu_ns, gc_ms, rows, shuffle_bytes):
        self.v = (tasks, run_ms, cpu_ns, gc_ms, rows, shuffle_bytes)

    def numCompleteTasks(self):
        return self.v[0]

    def numFailedTasks(self):
        return 0

    def executorRunTime(self):
        return self.v[1]

    def executorCpuTime(self):
        return self.v[2]

    def jvmGcTime(self):
        return self.v[3]

    def inputRecords(self):
        return self.v[4]

    def shuffleWriteBytes(self):
        return self.v[5]


class Job:
    def __init__(self, stage_ids):
        self.ids = stage_ids

    def stageIds(self):
        return Seq(self.ids)


class FakeJavaError(Exception):
    java_exception = "java.util.NoSuchElementException: stage 9"


class Store:
    def __init__(self, jobs, stages):
        self.jobs, self.stages = jobs, stages
        self.stage_reads = []

    def job(self, j):
        return self.jobs[j]

    def lastStageAttempt(self, sid):
        self.stage_reads.append(sid)
        if sid not in self.stages:
            raise FakeJavaError()
        return self.stages[sid]


class FakeContext:
    def __init__(self, store, groups):
        self.store, self.groups = store, groups
        self.group = None
        outer = self

        class JSC:
            def sc(self):
                return self

            def listenerBus(self):
                class Bus:
                    def waitUntilEmpty(self):
                        pass
                return Bus()

            def statusStore(self):
                return outer.store

            def clearJobGroup(self):
                outer.group = None

        self._jsc = JSC()

    def setJobGroup(self, group, desc):
        self.group = group

    def statusTracker(self):
        outer = self

        class Tracker:
            def getJobIdsForGroup(self, group):
                return outer.groups.get(group.split("-", 2)[2], [])

        return Tracker()


class FakeSpark:
    def __init__(self, sc):
        self.sparkContext = sc


def test_on_tracer_rolls_up_stages_once_and_skips_unattempted(monkeypatch):
    # job 0 runs stages 1 and 2; job 1 reuses stage 2 (counted once) and
    # lists stage 9, skipped by exchange reuse (no attempt)
    store = Store(
        jobs={0: Job([1, 2]), 1: Job([2, 9])},
        stages={1: Stage(4, 2000, 1.5e9, 100, 1000, 2e6), 2: Stage(2, 1000, 0.5e9, 0, 0, 0)},
    )
    sc = FakeContext(store, {"layer.fn": [0, 1]})
    monkeypatch.setattr(trace, "_java_error", lambda: FakeJavaError)
    tr = trace.Tracer(FakeSpark(sc), slots=2)
    assert tr.call("layer.fn", lambda: 7) == 7
    (sp,) = tr.spans
    c = sp.counters
    assert c["jobs"] == 2 and c["tasks"] == 6
    assert c["executor_run_s"] == pytest.approx(3.0)
    assert c["executor_cpu_s"] == pytest.approx(2.0)
    assert c["gc_s"] == pytest.approx(0.1)
    assert c["scan_rows"] == 1000
    assert c["shuffle_write_mb"] == pytest.approx(2.0)
    assert c["slot_util"] == pytest.approx(3.0 / (c["wall_s"] * 2))
    assert sorted(store.stage_reads) == [1, 2, 9]
    assert sc.group is None  # job group cleared after the call
