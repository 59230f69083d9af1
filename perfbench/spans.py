"""Spans around the calls into kmtricks_spark, and per-layer metrics.

The layers are the engine's modules. ``instrument`` wraps the public
functions the workloads reach (``Pipeline.stage_*``, ``write_stage``,
``read_stage``, ``write_lineage``, ``stage_complete``,
``sample_kgram_hot_map`` and the dedup operators) from here, so nothing
inside ``kmtricks_spark`` changes; the workloads open the remaining spans
(``curate_run``, ``bf_probe``, ``filter_matrix``, ``sketch_agg``) around
their own calls.

Opening a span sets the Spark job group to the span id, so every job is
attributed to the innermost open span; ``eventlog.read_event_log`` then
gives each span's task metrics. A layer's numbers include the spans nested
inside its own spans (a ``count`` write inside a ``pipeline`` stage counts
for both), except ``self_s``, which is a span's duration minus the part
of it its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time
from dataclasses import dataclass

from eventlog import GroupStats

LAYERS = (
    "pipeline", "pages", "lineage", "partitioner", "count", "merge",
    "bloom_stage", "curation", "dedup", "matrix_ops", "sketches",
)

# the per-layer metrics the traced run reports (BENCHMARK.json "per_layer"):
# these for every layer, plus EXTRA_METRICS
LAYER_METRICS = (
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("task_busy_s", "s"),
    ("task_cpu_s", "s"), ("gc_s", "s"), ("driver_gap_s", "s"),
    ("shuffle_write_bytes", "B"), ("shuffle_read_bytes", "B"), ("spill_bytes", "B"),
)
EXTRA_METRICS = (
    ("count.shuffle_write_records", "count"),
    ("count.agg_reduction", "ratio"),
    ("count.map_task_busy_s", "s"),
    ("merge.fetch_wait_s", "s"),
    ("pages.output_bytes", "B"),
    ("pages.input_bytes", "B"),
    ("lineage.input_bytes", "B"),
    ("lineage.rescan_ratio", "ratio"),
    ("bloom_stage.probe_shuffle_bytes_per_probe", "B"),
    ("bloom_stage.peak_exec_mem_mb", "MB"),
    ("pipeline.stage_counts.wall_s", "s"),
    ("trace.traced_op_s", "s"),
    ("trace.untraced_op_s", "s"),
    ("trace.overhead_s", "s"),
    ("proc.peak_rss_mb", "MB"),
    ("spark.failed_tasks", "count"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    return [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS] + list(
        EXTRA_METRICS)


# which layer owns the Spark stages of a stage-table write, by table name
WRITE_OWNER = {
    "counts": "count",
    "matrix": "merge", "pa": "merge", "merge_stats": "merge",
    "bloom": "bloom_stage", "bloom_filters": "bloom_stage", "fpr": "bloom_stage",
    "scalar": "curation",
    "dedup": "dedup", "decontam": "dedup",
}


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    tag: str | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """Spans kept in memory; each span sets the job group while open."""

    def __init__(self, spark=None):
        self.sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, tag: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, layer, name, tag, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    # -- wrapping the engine's functions

    def wrap(self, owner, attr: str, layer: str, tag_arg: int | None = None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span.
        ``tag_arg``: index of the positional argument naming the stage
        table (also accepted as the keyword ``stage``)."""
        fn = getattr(owner, attr)
        name = f"{layer}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kw):
            tag = None
            if tag_arg is not None:
                tag = kw.get("stage", args[tag_arg] if len(args) > tag_arg else None)
            with tracer.span(layer, name, tag):
                owner_layer = WRITE_OWNER.get(tag) if attr == "write_stage" else None
                if owner_layer is None:
                    return fn(*args, **kw)
                with tracer.span(owner_layer, f"{owner_layer}.write", tag):
                    return fn(*args, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's module functions the workloads reach."""
    from kmtricks_spark.operators import dedup, partitioner
    from kmtricks_spark.plans import lineage, pipeline
    from kmtricks_spark.sources import pages

    for stage in pipeline.STAGES:
        tracer.wrap(pipeline.Pipeline, f"stage_{stage}", "pipeline")
    # Pipeline binds these names at import; curate_run imports them from
    # their own modules at call time, so both places are wrapped
    for mod in (pipeline, pages):
        tracer.wrap(mod, "write_stage", "pages", tag_arg=2)
        tracer.wrap(mod, "read_stage", "pages", tag_arg=2)
    for mod in (pipeline, lineage):
        tracer.wrap(mod, "write_lineage", "lineage", tag_arg=1)
        tracer.wrap(mod, "stage_complete", "lineage", tag_arg=2)
    tracer.wrap(partitioner, "sample_kgram_hot_map", "partitioner")
    # curate_run's dedup and decontamination gates import these at call
    # time; minhash_lsh_pairs and the clustering materialize eagerly
    for name in ("exact_dedup", "minhash_signatures", "minhash_lsh_pairs",
                 "dedup_keep_set", "benchmark_contamination"):
        tracer.wrap(dedup, name, "dedup")


# ------------------------------------------------------------ arithmetic

def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start)
        - union_length([(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans
    }


def _ancestors(spans: list[Span]) -> dict[int, list[Span]]:
    """{span id: its enclosing spans among ``spans``, innermost first}."""
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        chain, p = [], s.parent
        while p is not None and p in by_id:
            chain.append(by_id[p])
            p = by_id[p].parent
        out[s.id] = chain
    return out


def layer_metrics(spans: list[Span], groups: dict, layer: str) -> dict:
    """Metrics of one layer. Spans of ``layer`` with no enclosing span of
    the same layer are its top spans; all jobs inside them count for it."""
    anc = _ancestors(spans)
    tops = [s for s in spans if s.layer == layer
            and not any(a.layer == layer for a in anc[s.id])]
    selft = self_times(spans)
    agg = GroupStats()
    gap = 0.0
    for top in tops:
        sub = GroupStats()
        for s in spans:
            if (s.id == top.id or any(a.id == top.id for a in anc[s.id])) and s.group in groups:
                sub.add(groups[s.group])
        busy = union_length(sub.task_intervals, top.start, top.end)
        gap += (top.end - top.start) - busy
        agg.add(sub)
    return {
        "wall_s": sum(s.end - s.start for s in tops),
        "self_s": sum(selft[s.id] for s in spans if s.layer == layer),
        "jobs": agg.jobs,
        "task_busy_s": agg.task_busy_s,
        "task_cpu_s": agg.task_cpu_s,
        "gc_s": agg.gc_s,
        "driver_gap_s": gap,
        "shuffle_write_bytes": agg.shuffle_write_bytes,
        "shuffle_write_records": agg.shuffle_write_records,
        "shuffle_read_bytes": agg.shuffle_read_bytes,
        "fetch_wait_s": agg.fetch_wait_s,
        "spill_bytes": agg.spill_bytes,
        "input_bytes": agg.input_bytes,
        "output_bytes": agg.output_bytes,
        "peak_exec_mem_mb": agg.peak_exec_mem_mb,
        "failed_tasks": agg.failed_tasks,
        "map_task_busy_s": agg.map_task_busy_s,
    }


def tag_metrics(spans: list[Span], groups: dict, layer: str, tag: str) -> dict:
    """layer_metrics over the spans of ``layer`` tagged ``tag`` and the
    spans nested in them."""
    anc = _ancestors(spans)
    keep = [s for s in spans
            if any(a.layer == layer and a.tag == tag for a in [s] + anc[s.id])]
    return layer_metrics(keep, groups, layer)


# ------------------------------------------------------------ memory

def _processes() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, resident bytes)} of every process, from /proc."""
    out = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[21]) * page)
    return out


def descendants(root_pid: int, procs: dict | None = None) -> set[int]:
    """Every process below ``root_pid`` (the JVM's Python workers, say)."""
    procs = _processes() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    found, frontier = set(), [root_pid]
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in found:
                found.add(c)
                frontier.append(c)
    return found


def _proc_tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants (the JVM and
    the Python workers it forks)."""
    procs = _processes()
    tree = descendants(root_pid, procs) | {root_pid}
    return sum(procs[p][1] for p in tree if p in procs) / 2**20


class RssSampler:
    """Peak resident memory of this process tree, sampled on a thread."""

    def __init__(self, interval: float = 0.5):
        self.interval, self.peak_mb = interval, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _proc_tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
