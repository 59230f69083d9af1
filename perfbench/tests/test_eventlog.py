"""The event-log reader on a small fixture log."""

import os

import pytest

from eventlog import read_event_log

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_groups_sum_task_metrics_per_job_group():
    g = read_event_log(FIXTURE)
    a = g["perfbench-span-1"]
    assert a.jobs == 1 and len(a.task_intervals) == 3
    assert a.task_busy_s == pytest.approx(0.1 + 0.2 + 0.3)
    assert a.task_cpu_s == pytest.approx(0.05 + 0.1 + 0.2)
    assert a.gc_s == pytest.approx(0.01)
    assert a.shuffle_write_bytes == 300 and a.shuffle_write_records == 30
    assert a.shuffle_read_bytes == 300 and a.fetch_wait_s == pytest.approx(0.002)
    assert a.input_bytes == 1000 and a.output_bytes == 500
    assert a.spill_bytes == 64
    assert a.peak_exec_mem_mb == pytest.approx(2.0)
    assert a.map_task_busy_s == pytest.approx(0.1 + 0.2)  # stage 0 only
    assert a.failed_tasks == 0
    assert sorted(a.task_intervals) == [(1.0, 1.1), (1.0, 1.2), (1.3, 1.6)]


def test_ungrouped_job_and_failed_task():
    g = read_event_log(FIXTURE)
    none = g[None]
    assert none.jobs == 1 and len(none.task_intervals) == 1 and none.failed_tasks == 1
