"""Span bookkeeping, job-group attribution and patch/undo."""

import types

import pytest

from perfbench import layers
from perfbench.eventlog import EventLog, Job, Stage, Task
from perfbench.stats import tail
from perfbench.trace import Tracer, self_times, union_length


class FakeSc:
    """Records the job group a Spark job would carry."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc):
        self.group = gid

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_and_innermost_group():
    sc, clock = FakeSc(), Clock()
    tr = Tracer(sc, clock=clock)
    seen = []
    with tr.op(0, "pass") as root:
        clock.t = 1.0
        with tr.span("a") as a:
            seen.append(sc.group)
            clock.t = 2.0
            with tr.span("meta", jobs=False):
                seen.append(sc.group)  # no job group change for probes
                clock.t = 2.5
            with tr.span("b") as b:
                seen.append(sc.group)
                clock.t = 4.0
            seen.append(sc.group)
            clock.t = 5.0
        clock.t = 6.0
    assert sc.group is None
    assert seen == [a.id, a.id, b.id, a.id]
    st = self_times(tr.spans)
    assert st[root.id] == pytest.approx(2.0)
    assert st[a.id] == pytest.approx(4.0 - 0.5 - 1.5)
    assert st[b.id] == pytest.approx(1.5)
    assert sum(st.values()) == pytest.approx(6.0)
    assert {s.op for s in tr.spans} == {0}


def test_install_wraps_once_and_undo_restores():
    mod = types.SimpleNamespace()

    def f(x):
        return x + 1

    mod.f = f
    alias = types.SimpleNamespace(f=f)

    class C:
        def m(self):
            return mod.f(1)

    tr = Tracer()
    undo = tr.install([
        (mod, "f", "layer.f", True, None),
        (alias, "f", "layer.f", True, None),
        (C, "m", "layer.m", True, None),
    ])
    assert mod.f is alias.f
    assert C().m() == 2
    assert [s.name for s in tr.spans] == ["layer.m", "layer.f"]
    assert tr.spans[1].parent == tr.spans[0].id
    undo()
    assert mod.f is f and alias.f is f and C.m.__name__ == "m"
    assert not hasattr(C.m, "__perfbench_original__")


def test_hook_runs_outside_span():
    tr = Tracer()

    def hook(args, kwargs):
        def after(span, out):
            span.counts["out"] = out
        return after

    fn = tr.wrap(lambda x: x * 2, "layer.x", hook=hook)
    assert fn(4) == 8
    assert tr.spans[0].counts == {"out": 8}


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_tail_needs_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0)
    xs = [float(i) for i in range(1, 41)]  # 1..40
    value, pct = tail(xs)
    assert pct == 75.0 and value == 30.0
    assert sum(x > value for x in xs) == 10


def _task(stage, dur):
    return Task(stage, dur, dur * 0.9, dur * 0.5, 0.0, dur * 0.1,
                10, 20, 30, 40)


def test_layer_metrics_attribute_jobs_to_spans():
    clock = Clock()
    tr = Tracer(FakeSc(), clock=clock)
    with tr.op(0, "pass"):
        with tr.span("updates.merge") as merge:
            clock.t = 2.0
        with tr.span("parquet.write") as write:
            clock.t = 3.0
        clock.t = 4.0
    log = EventLog(
        jobs={
            1: Job(1, merge.id, 100.0, 101.0, [10]),
            2: Job(2, write.id, 102.0, 102.5, [11]),
            3: Job(3, None, 103.0, 109.0, [12]),  # outside any span
        },
        stages={
            10: Stage(10, 2, 1.0, [_task(10, 0.5), _task(10, 1.0)]),
            11: Stage(11, 1, 0.5, [_task(11, 0.4)]),
            12: Stage(12, 1, 6.0, [_task(12, 6.0)]),
        },
    )
    m = layers.compute(tr, log, "pass", {})
    assert m["updates.merge_s"] == pytest.approx(2.0)
    assert m["parquet.write_s"] == pytest.approx(1.0)
    assert m["job.spark_jobs_per_pass"] == 2
    assert m["driver.remainder_s"] == pytest.approx(4.0 - 1.5)
    assert m["spark.tasks"] == 3
    assert m["spark.executor_run_s"] == pytest.approx(0.9 * 1.9)
    assert m["spark.task_skew"] == pytest.approx(1.0 / 0.75)
    assert m["trace.accounted_frac"] == pytest.approx(3.0 / 4.0)
    assert m["trace.job_overflow_frac"] == 0
    assert m["updates.log_append_s"] == 0
    assert set(m) == set(layers.PER_LAYER_NAMES)
