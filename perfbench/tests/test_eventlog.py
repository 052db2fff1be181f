"""Event-log rollup and span self times on a small hand-written log."""

import os

import pytest

from perfbench import eventlog
from perfbench.trace import Span, Tracer, outermost, self_times

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures")


def span(i, name, start, end, parent=None, layer="bench", trace=None):
    return Span(i, name, layer, start, end, parent, trace or i, 0)


@pytest.fixture
def log():
    return eventlog.parse(eventlog.read_events(FIXTURE))


def test_parse_reads_jobs_stages_and_skips_a_torn_line(log):
    jobs, stages = log
    assert sorted(jobs) == [0, 1]
    assert jobs[0].stage_ids == [0, 1] and jobs[0].end_ms == 1001400
    st0 = stages[0]
    assert (st0.tasks, st0.run_ms, st0.gc_ms, st0.shuffle_write_bytes) == (4, 700, 20, 4096)
    assert st0.task_run_ms == [100, 100, 100, 400]
    assert stages[1].shuffle_read_bytes == 4096 and stages[1].spill_bytes == 128


def test_stage_kinds_and_skew(log):
    _, stages = log
    assert not stages[0].is_reduce and stages[1].is_reduce
    assert stages[0].skew == pytest.approx(4.0)  # 400 ms max over a 100 ms median
    assert stages[1].skew == pytest.approx(1.0)


def test_jobs_go_to_the_innermost_open_span(log):
    jobs, _ = log
    outer = span(1, "op.maintenance", 1000.0, 1003.0)
    inner = span(2, "maintenance.rewrite_global", 1000.2, 1001.5, parent=1, trace=1)
    owner = eventlog.attribute(jobs, [outer, inner])
    assert owner[0] is inner  # submitted at 1000.5 s, inside both
    assert owner[1] is outer  # submitted at 1002.0 s, after the inner span closed


def test_unowned_jobs_are_left_out(log):
    jobs, _ = log
    assert eventlog.attribute(jobs, [span(1, "op.x", 0.0, 1.0)]) == {}


def test_rollup_counts_a_shared_stage_once(log):
    jobs, stages = log
    outer = span(1, "op.maintenance", 1000.0, 1003.0)
    inner = span(2, "maintenance.rewrite_global", 1000.2, 1001.5, parent=1, trace=1)
    owner = eventlog.attribute(jobs, [outer, inner])
    everything = eventlog.rollup(jobs, stages, owner, lambda sp: True)
    assert (everything.jobs, everything.stages, everything.tasks) == (2, 3, 7)
    assert everything.executor_run_s == pytest.approx(1.35)
    assert everything.executor_cpu_s == pytest.approx(0.94)
    assert everything.shuffle_write_bytes == 4096
    assert everything.map_s == pytest.approx(0.5 + 0.09)
    assert everything.reduce_s == pytest.approx(0.3)
    assert everything.task_skew == pytest.approx(4.0)  # the heaviest stage is stage 0
    assert everything.job_wall_s == pytest.approx(0.9 + 0.2)
    rewrite = eventlog.rollup(jobs, stages, owner, lambda sp: sp is inner)
    assert (rewrite.jobs, rewrite.stages) == (1, 2)


def test_union_seconds_merges_overlaps():
    assert eventlog.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_seconds([]) == 0


def test_self_time_subtracts_covered_child_time():
    root = span(1, "op.a", 0.0, 10.0)
    kids = [span(2, "x", 1.0, 4.0, parent=1, trace=1), span(3, "y", 3.0, 6.0, parent=1, trace=1)]
    grandchild = span(4, "z", 1.5, 2.0, parent=2, trace=1)
    st = self_times([root, *kids, grandchild])
    assert st == pytest.approx({1: 5.0, 2: 2.5, 3: 3.0, 4: 0.5})


def test_outermost_skips_nested_matches():
    a = span(1, "LakeTable.files", 0.0, 5.0)
    b = span(2, "op.x", 1.0, 2.0, parent=1, trace=1)
    c = span(3, "LakeTable.files", 1.2, 1.5, parent=2, trace=1)
    assert outermost([a, b, c], lambda sp: sp.name == "LakeTable.files") == [a]


def test_tracer_records_nesting_only_while_recording():
    tracer = Tracer()
    with tracer.span("op.a", "bench"):
        pass
    assert tracer.spans == []
    tracer.recording = True
    with tracer.span("op.a", "bench") as outer:
        with tracer.span("inner", "lakehouse.table") as inner:
            with tracer.paused():
                with tracer.span("hidden", "bench"):
                    pass
    assert [sp.name for sp in tracer.spans] == ["inner", "op.a"]
    assert inner.parent == outer.span_id and inner.trace == outer.span_id


def test_shims_wrap_restore_and_survive_a_broken_hook():
    import types

    from perfbench.trace import Shims

    mod = types.SimpleNamespace(__name__="m", f=lambda x: x + 1)
    orig = mod.f
    tracer = Tracer()
    shims = Shims(tracer)
    shims.add(mod, "f", "layer", lambda args, out, _o: args["missing_key"])
    shims.add(mod, "gone", "layer")
    shims.install()
    tracer.recording = True
    assert mod.f(1) == 2
    tracer.recording = False
    shims.remove()
    assert mod.f is orig
    assert [sp.name for sp in tracer.spans] == ["m.f"]
    assert tracer.missing[0] == "m.gone"
    assert tracer.missing[1].startswith("m.f counters: KeyError")
