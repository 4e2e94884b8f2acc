"""Percentile and self-time arithmetic of the benchmark's tracer."""

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Span, Tracer, attribute, percentile, self_intervals, union_length  # noqa: E402


def test_percentile_interpolates_between_ranks():
    assert percentile([3.0], 90) == 3.0
    assert percentile([4, 1, 3, 2], 50) == 2.5
    assert percentile(range(11), 90) == 9.0
    assert percentile([1, 2], 90) == pytest.approx(1.9)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == 3.0
    assert union_length([(0, 4), (1, 2)]) == 4.0


def test_self_time_subtracts_children_once():
    root = Span("loader.materialize", 0.0, 10.0)
    a = Span("spark.planning", 1.0, 4.0, parent=root)
    b = Span("spark.planning", 3.0, 5.0, parent=root)  # overlaps a
    assert self_intervals(root, [root, a, b]) == [(0.0, 1.0), (5.0, 10.0)]
    assert self_intervals(a, [root, a, b]) == [(1.0, 4.0)]
    out = attribute([root, a, b], wall=10.0)
    assert out["layers"]["loader.materialize"]["busy"] == pytest.approx(6.0)
    assert out["layers"]["spark.planning"]["busy"] == pytest.approx(5.0)
    assert out["layers"]["spark.planning"]["covered"] == pytest.approx(4.0)


def test_pool_spans_report_busy_and_covered_time():
    # two pool threads write at once, then one of them checks
    spans = [
        Span("loader.materialize", 0.0, 4.0),
        Span("loader.materialize", 1.0, 3.0),
        Span("constraints.check", 4.0, 5.0),
        Span("loader.publish", 6.0, 8.0),
    ]
    out = attribute(spans, wall=10.0)
    mat = out["layers"]["loader.materialize"]
    assert mat["busy"] == pytest.approx(6.0)
    assert mat["covered"] == pytest.approx(4.0)
    assert out["overlap"] == pytest.approx(0.0)
    assert out["unattributed"] == pytest.approx(3.0)


def test_wall_splits_into_layers_minus_overlap_plus_residual():
    parent = Span("loader.materialize", 0.0, 6.0)
    spans = [
        parent,
        Span("spark.planning", 0.0, 1.0, parent=parent),
        Span("constraints.check", 2.0, 7.0),  # overlaps the write
        Span("loader.publish", 9.0, 10.0),
    ]
    out = attribute(spans, wall=12.0)
    layers = out["layers"]
    assert layers["loader.materialize"]["covered"] == pytest.approx(5.0)
    assert layers["spark.planning"]["covered"] == pytest.approx(1.0)
    assert out["overlap"] == pytest.approx(4.0)  # 2..6 counted twice
    total = sum(v["covered"] for v in layers.values())
    assert total - out["overlap"] + out["unattributed"] == pytest.approx(12.0)
    assert out["unattributed"] == pytest.approx(4.0)


def test_tracer_nests_per_thread_and_restores_patches():
    class Mod:
        @staticmethod
        def work(x):
            return x + 1

    tracer = Tracer()
    original = Mod.work
    tracer.wrap(Mod, "work", "layer.work",
                after=lambda a, k, r: tracer.count("layer.calls"))
    with tracer.span("outer"):
        assert Mod.work(1) == 2
    t = threading.Thread(target=Mod.work, args=(5,))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tracer.uninstall()
    assert Mod.work is original
    inner = [s for s in tracer.spans if s.layer == "layer.work"]
    outer = next(s for s in tracer.spans if s.layer == "outer")
    assert inner[0].parent is outer
    assert inner[1].parent is None  # other thread: no parent
    assert tracer.counts["layer.calls"] == 2
