"""Spark event-log reader: task and stage metrics per job group.

The traced run sets a job group (the id of the innermost open span) on
every Spark job it starts and writes an event log to a local directory
(``spark.eventLog.enabled``, uncompressed, not rolling). This module reads
that JSON-lines file back and sums the task metrics of every stage under
the job group that submitted it. It needs nothing but the file.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    """Task metrics summed over the stages one job group ran."""

    jobs: int = 0
    failed_tasks: int = 0
    task_busy_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    peak_exec_mem_mb: float = 0.0
    # busy time of map stages that read no shuffle (scan-side stages)
    map_task_busy_s: float = 0.0
    # (launch, finish) of every task, epoch seconds
    task_intervals: list = field(default_factory=list)

    SUMMED = (
        "jobs", "failed_tasks", "task_busy_s", "task_cpu_s",
        "gc_s", "shuffle_write_bytes", "shuffle_write_records",
        "shuffle_read_bytes", "fetch_wait_s", "spill_bytes", "input_bytes",
        "output_bytes", "map_task_busy_s",
    )

    def add(self, other: "GroupStats") -> None:
        for k in self.SUMMED:
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.peak_exec_mem_mb = max(self.peak_exec_mem_mb, other.peak_exec_mem_mb)
        self.task_intervals.extend(other.task_intervals)


@dataclass
class _Stage:
    group: str | None = None
    tasks: list = field(default_factory=list)


def _task_row(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    reason = ev.get("Task End Reason", {}).get("Reason", "Success")
    return {
        "launch": info["Launch Time"] / 1000.0,
        "finish": info["Finish Time"] / 1000.0,
        "failed": bool(info.get("Failed") or info.get("Killed") or reason != "Success"),
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
        "sw_records": sw.get("Shuffle Records Written", 0),
        "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
        "spill": m.get("Disk Bytes Spilled", 0),
        "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "peak_mem": m.get("Peak Execution Memory", 0),
    }


def _stage_stats(tasks: list[dict]) -> GroupStats:
    g = GroupStats()
    reads_shuffle = any(t["sr_bytes"] for t in tasks)
    writes_shuffle = any(t["sw_records"] for t in tasks)
    for t in tasks:
        busy = max(t["finish"] - t["launch"], 0.0)
        g.failed_tasks += t["failed"]
        g.task_busy_s += busy
        g.task_cpu_s += t["cpu_s"]
        g.gc_s += t["gc_s"]
        g.shuffle_write_bytes += t["sw_bytes"]
        g.shuffle_write_records += t["sw_records"]
        g.shuffle_read_bytes += t["sr_bytes"]
        g.fetch_wait_s += t["fetch_wait_s"]
        g.spill_bytes += t["spill"]
        g.input_bytes += t["in_bytes"]
        g.output_bytes += t["out_bytes"]
        g.peak_exec_mem_mb = max(g.peak_exec_mem_mb, t["peak_mem"] / 2**20)
        g.task_intervals.append((t["launch"], t["finish"]))
        if writes_shuffle and not reads_shuffle:
            g.map_task_busy_s += busy
    return g


def read_event_log(path: str) -> dict[str | None, GroupStats]:
    """{job group id (None = no group): summed stats} for one event log."""
    stages: dict[tuple[int, int], _Stage] = {}
    stage_group: dict[int, str | None] = {}
    job_groups: list[str | None] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                job_groups.append(group)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                group = (ev.get("Properties") or {}).get(GROUP_KEY)
                stages.setdefault(key, _Stage()).group = group
            elif kind == "SparkListenerTaskEnd" and "Task Info" in ev:
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                stages.setdefault(key, _Stage()).tasks.append(_task_row(ev))
    out: dict[str | None, GroupStats] = {}
    for g in job_groups:
        out.setdefault(g, GroupStats()).jobs += 1
    for (sid, _), st in sorted(stages.items()):
        group = st.group if st.group is not None else stage_group.get(sid)
        out.setdefault(group, GroupStats()).add(_stage_stats(st.tasks))
    return out
