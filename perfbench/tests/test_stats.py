"""Summary statistics and span arithmetic (no Spark)."""

import types

import pytest

from perfbench import stats, trace
from perfbench.trace import Tracer, layer_self_times, parse_size


def test_tail_averages_the_ten_samples_beyond_the_percentile():
    xs = list(range(50, 0, -1))  # 50 samples
    t = stats.tail(xs)
    assert t["beyond"] == 10 and t["samples"] == 50
    assert t["percentile"] == 80.0  # ten values (41..50) lie above it
    assert t["value"] == sum(range(41, 51)) / 10


def test_tail_with_few_samples_averages_the_slowest_quarter():
    t = stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 12, 11, 10])  # 12 samples
    assert t["beyond"] == 3 and t["value"] == 11 and t["percentile"] == 75.0
    t = stats.tail([2.0, 1.0, 4.0, 3.0, 6.0, 5.0])  # a quarter of 6 rounds up to 2
    assert t["beyond"] == 2 and t["value"] == 5.5


def test_tail_of_few_samples_is_the_maximum():
    t = stats.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 66.67, "samples": 3, "beyond": 1}
    assert stats.tail([])["samples"] == 0


def test_union_merges_overlapping_and_touching_intervals():
    iv = [(5, 7), (0, 2), (1, 3), (3, 4), (9, 9), (6, 8)]
    assert stats.union(iv) == [(0, 4), (5, 8)]
    assert stats.covered(iv) == 7


def test_uncovered_clips_to_the_op():
    # an op from 10 to 20; jobs partly outside it
    jobs = [(8, 12), (15, 16), (19, 25)]
    assert stats.uncovered(10, 20, jobs) == pytest.approx(10 - 2 - 1 - 1)
    assert stats.uncovered(10, 20, []) == 10


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "parent": 1, "start": 4.0, "end": 6.0},  # overlaps 2 (threads)
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    own = stats.self_times(spans)
    assert own == {1: 5.0, 2: 3.0, 3: 2.0, 4: 1.0}


def test_tracer_records_nested_spans_and_restores_patches():
    mod = types.ModuleType("fake_layer")

    def inner(x):
        return [x] * x

    def outer(x):
        return mod.inner(x)

    mod.inner, mod.outer = inner, outer
    tr = Tracer()
    tr.patch(mod, "inner", "low", "inner", lambda a, r: {"n": len(r)})
    tr.patch(mod, "outer", "high", "outer")
    assert mod.outer(2) == [2, 2]  # no op open: nothing recorded
    assert tr.spans == []
    tr.begin_op("op-1", "probe")
    mod.outer(3)
    op = tr.end_op()
    by = {s["name"]: s for s in tr.spans}
    assert by["outer"]["parent"] == op["id"]
    assert by["inner"]["parent"] == by["outer"]["id"]
    assert by["inner"]["n"] == 3 and {s["op"] for s in tr.spans} == {"op-1"}
    own = layer_self_times(tr.spans)
    assert set(own) == {"op", "high", "low"}
    assert sum(own.values()) == pytest.approx(op["end"] - op["start"])
    tr.unpatch()
    assert mod.inner is inner and mod.outer is outer


def test_spans_are_not_stretched_by_a_wall_clock_step(monkeypatch):
    clock = {"mono": 100.0, "wall": 5000.0}
    monkeypatch.setattr(trace, "time", types.SimpleNamespace(
        monotonic=lambda: clock["mono"], time=lambda: clock["wall"]))

    def work():  # one second passes while the wall clock jumps 30 s
        clock["mono"] += 1.0
        clock["wall"] += 31.0

    mod = types.ModuleType("fake_layer")
    mod.work = work
    tr = Tracer()
    tr.patch(mod, "work", "low")
    tr.begin_op("op-1", "probe")
    mod.work()
    op = tr.end_op()
    (span,) = [s for s in tr.spans if s["name"] == "work"]
    assert span["end"] - span["start"] == 1.0
    assert op["start"] == 5000.0 and op["end"] == 5001.0


def test_parse_size_reads_total_of_spark_size_metrics():
    assert parse_size("1.5 KiB") == 1536
    assert parse_size("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 B, 2.0 B, 3.0 B)") == 2 << 20
    assert parse_size("n/a") == 0.0


def test_host_scale_is_reference_over_the_median_probe():
    from perfbench import host

    slow = [0.08, 0.07, 0.09, 0.5]  # one preempted probe does not move the median
    assert host.scale(slow) == pytest.approx(host.REFERENCE_S / 0.085)
    assert host.scale([host.REFERENCE_S] * 3) == 1.0
    assert host.scale([]) == 1.0
