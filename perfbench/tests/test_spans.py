"""Span bookkeeping, self-time arithmetic and the per-layer roll-up."""

import types

import pytest

from perfbench.eventlog import GroupStats
from perfbench.report import PER_LAYER, layer_metrics
from perfbench.spans import Span, Tracer, covered, outermost, self_times


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeSC:
    def __init__(self):
        self.props = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        Span("r", "pipeline", None, 0, 10),
        Span("a", "stage_a", "r", 1, 4),
        Span("b", "stage_b", "r", 4, 9),
        Span("w", "catalog.append", "b", 5, 8),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"r": 2, "a": 3, "b": 2, "w": 3})
    # self times of a tree add up to the root's wall time
    assert sum(st.values()) == pytest.approx(10)


def test_outermost_skips_calls_nested_in_the_same_layer():
    spans = [
        Span("s", "stage_a", None, 0, 10),
        Span("c1", "catalog.append", "s", 1, 3),
        Span("c2", "catalog.overwrite", "c1", 1.5, 2.5),
        Span("k", "checkpoint.mark_processed", "s", 4, 6),
        Span("c3", "catalog.append", "k", 4.5, 5.5),
    ]
    assert [s.sid for s in outermost(spans, "catalog")] == ["c1", "c3"]


def test_tracer_sets_and_restores_job_group_and_patches():
    clock, sc = FakeClock(), FakeSC()
    tr = Tracer(sc, clock=clock)
    mod = types.SimpleNamespace()

    def inner(x):
        clock.t += 1
        return x + 1

    def outer(x):
        clock.t += 2
        return mod.inner(x) * 10

    mod.inner, mod.outer = inner, outer
    tr.patch(mod, "inner", "catalog.inner")
    tr.patch(mod, "outer", "stage_a")
    assert mod.outer(1) == 20
    tr.restore()
    assert mod.inner is inner and mod.outer is outer
    (o, i) = tr.spans
    assert (o.name, o.parent, o.start, o.end) == ("stage_a", None, 0, 3)
    assert (i.name, i.parent, i.start, i.end) == ("catalog.inner", o.sid, 2, 3)
    groups = [v for _, v in sc.props]
    assert groups == [o.sid, i.sid, o.sid, None]


def test_tracer_closes_span_when_call_raises():
    tr = Tracer(FakeSC(), clock=FakeClock())

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tr.wrap(boom, "stage_c")()
    assert tr._stack == []


def test_layer_metrics_rollup():
    spans = [
        Span("r", "pipeline", None, 0, 20),
        Span("c", "stage_c", "r", 1, 11),
        Span("w", "catalog.overwrite", "c", 2, 8),
        Span("k", "checkpoint.mark_processed", "c", 8, 10),
        Span("w2", "catalog.append", "k", 8.5, 9.5),
    ]
    groups = {
        "c": GroupStats(jobs=1, job_intervals=[(1, 2)], task_cpu_s=1),
        # catalog write: 4 of its 6 s are covered by its jobs
        "w": GroupStats(jobs=2, job_intervals=[(3, 5), (4, 7)], task_cpu_s=5,
                        shuffle_mb=2, stage_tasks={(0, 0): [1, 1, 3]}),
        "w2": GroupStats(jobs=1, job_intervals=[(8.5, 9)]),
    }
    m = layer_metrics(spans, groups, {"candidate_pairs": 10, "verified_pairs": 4,
                                      "merges": [(2, 32), (6, 32)],
                                      "tracing_overhead": 1.1})
    assert set(m) == {name for name, *_ in PER_LAYER}
    assert m["stage_c.self_s"] == pytest.approx(2)      # 10 - 6 - 2
    # a stage carries the jobs of its catalog and checkpoint children
    assert m["stage_c.jobs"] == 4
    assert m["stage_c.task_cpu_s"] == pytest.approx(6)
    assert m["stage_c.shuffle_mb"] == pytest.approx(2)
    assert m["stage_c.skew"] == pytest.approx(3)
    assert m["pipeline_tail.self_s"] == pytest.approx(10)
    assert m["pipeline_tail.jobs"] == 0
    assert m["catalog.calls"] == 2                      # w and w2 (under checkpoint)
    assert m["catalog.write_s"] == pytest.approx(7)
    assert m["catalog.commit_s"] == pytest.approx((6 - 4) + (1 - 0.5))
    assert m["catalog.merge_buckets_rewritten_frac"] == pytest.approx(8 / 64)
    assert m["checkpoint.calls"] == 1 and m["checkpoint.self_s"] == pytest.approx(1)
    assert m["checkpoint.jobs"] == 1                    # w2, under k
    assert m["canonicalize.pair_yield"] == pytest.approx(0.4)
    assert m["spark.jobs"] == 4 and m["spark.task_cpu_s"] == pytest.approx(6)
    assert m["stage_a.jobs"] == 0 and m["stage_a.skew"] == 0
    assert m["dedup.winnow.self_s"] == 0
    assert m["tracing_overhead"] == pytest.approx(1.1)


def test_layer_metrics_omit_unmeasured_tracing_overhead():
    m = layer_metrics([Span("r", "pipeline", None, 0, 1)], {}, {})
    assert "tracing_overhead" not in m
    assert set(m) | {"tracing_overhead"} == {name for name, *_ in PER_LAYER}
