"""Span self time, interval unions and layer attribution."""

import json
import os

import pytest

import run
import spans as sp
from eventlog import GroupStats


def _span(i, parent, layer, start, end, tag=None):
    return sp.Span(i, parent, layer, f"{layer}.x", tag, start, end)


def test_union_length_merges_overlaps_and_clips():
    assert sp.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert sp.union_length([(0, 2), (1, 3), (5, 6)], lo=1, hi=5.5) == 2.5
    assert sp.union_length([]) == 0


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        _span(0, None, "pipeline", 0.0, 10.0),
        _span(1, 0, "pages", 1.0, 4.0),
        _span(2, 0, "lineage", 3.0, 6.0),   # overlaps span 1 by 1 s
        _span(3, 1, "count", 1.5, 3.5),
    ]
    st = sp.self_times(spans)
    assert st[0] == pytest.approx(10 - 5)   # children cover [1, 6]
    assert st[1] == pytest.approx(3 - 2)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(2)


def test_layer_metrics_counts_nested_jobs_once_per_layer():
    spans = [
        _span(0, None, "pipeline", 0.0, 10.0),
        _span(1, 0, "pages", 1.0, 5.0, "counts"),
        _span(2, 1, "count", 1.0, 5.0, "counts"),
        _span(3, 0, "pipeline", 6.0, 8.0),   # nested pipeline span: not a top span
    ]
    groups = {
        spans[0].group: GroupStats(jobs=1, task_busy_s=1.0, task_intervals=[(0.5, 1.0)]),
        spans[2].group: GroupStats(jobs=2, task_busy_s=4.0, shuffle_write_records=7,
                                   task_intervals=[(1.0, 3.0), (2.0, 4.0)]),
    }
    pipe = sp.layer_metrics(spans, groups, "pipeline")
    assert pipe["wall_s"] == 10.0 and pipe["jobs"] == 3 and pipe["task_busy_s"] == 5.0
    assert pipe["driver_gap_s"] == pytest.approx(10 - 0.5 - 3)
    assert pipe["self_s"] == pytest.approx((10 - 4 - 2) + 2)
    count = sp.layer_metrics(spans, groups, "count")
    assert count["jobs"] == 2 and count["shuffle_write_records"] == 7
    assert count["driver_gap_s"] == pytest.approx(4 - 3)
    assert sp.layer_metrics(spans, groups, "sketches")["wall_s"] == 0
    tagged = sp.tag_metrics(spans, groups, "pages", "counts")
    assert tagged["jobs"] == 2 and tagged["wall_s"] == 4.0


def test_tracer_wrap_opens_nested_spans_and_unwraps():
    class Mod:
        @staticmethod
        def write_stage(df, run_dir, stage):
            return stage

    tracer = sp.Tracer()
    tracer.wrap(Mod, "write_stage", "pages", tag_arg=2)
    assert Mod.write_stage(None, "d", "counts") == "counts"
    assert [(s.layer, s.tag, s.parent) for s in tracer.spans] == [
        ("pages", "counts", None), ("count", "counts", 0)]
    tracer.unwrap()
    Mod.write_stage(None, "d", "counts")
    assert len(tracer.spans) == 2


def test_p90_interpolates_and_keeps_a_single_value():
    assert run.p90([7.0]) == 7.0
    assert run.p90([float(i) for i in range(1, 12)]) == 10.0
    assert run.p90([1.0, 2.0]) == 1.9


def test_tail_is_highest_percentile_with_ten_beyond():
    assert run.tail([3.0, 1.0, 2.0]) is None
    v, pct = run.tail([float(i) for i in range(1, 101)])
    assert v == 90.0 and pct == 90.0


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == sp.per_layer_metrics()
    assert len(bench["per_layer"]) <= 128
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
