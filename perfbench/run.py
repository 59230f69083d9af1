"""Benchmark of kmtricks_spark's build, curate and query jobs.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload curate_web --seed 1 --seconds 6 --trace 0

Runs one workload in one process at local[<cores>] with one client. The
inputs are generated from --seed (see corpus.py); set-up starts Spark and
runs a warm-up pass on a small corpus of the same shape with another seed;
then operations are timed back to back for --seconds and each output is
checked against DuckDB. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run is made twice,
untraced and then traced (spans plus a Spark event log), and the metrics
are per layer, including the tracing overhead. The line before it holds
the details: measured input shape, every operation's wall time, errors.

Everything the run writes goes under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "ok_op_share": "ratio",
}


def tail(values: list[float]) -> tuple[float, float] | None:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it; None with ten samples or fewer."""
    v = sorted(values)
    if len(v) <= 10:
        return None
    i = len(v) - 11
    return v[i], 100.0 * (i + 1) / len(v)


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between order statistics (the value
    itself for a single operation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _environment() -> None:
    """Keep every file inside the checkout and let the Python workers
    import kmtricks_spark (mapInPandas/applyInPandas run there)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def _session(cores: int, event_log: str | None = None):
    from kmtricks_spark import get_spark

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(cores=cores, app="perfbench", shuffle_partitions=2 * cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop Spark, then the JVM and every process it started, and wait."""
    from pyspark import SparkContext

    from spans import descendants

    gw = SparkContext._gateway
    if gw is None:  # already stopped
        return
    spark.stop()
    proc = getattr(gw, "proc", None)
    children = descendants(proc.pid) if proc else set()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers exit once the JVM is gone; kill any that do not
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)
    for p in children:
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _timed_loop(w, spark, seconds: float, tracer=None):
    """Operations back to back until `seconds` have passed and the
    workload's operation mix is complete (at least one operation)."""
    ops, errors = [], []
    t0 = time.perf_counter()
    while True:
        try:
            if tracer is not None:
                with tracer.span("op", "op"):
                    op = w.op(spark, tracer)
            else:
                op = w.op(spark, tracer)
        except Exception as e:  # a failed operation is counted, not fatal
            import traceback

            traceback.print_exc(file=sys.stderr)
            errors.append(f"{type(e).__name__}: {e}")
            ops.append(None)
        else:
            ops.append(op)
            errors.extend(op.errors)
        if time.perf_counter() - t0 >= seconds and w.may_stop(len(ops)):
            return ops, errors


def _end_to_end(w, setup_s: float, ops) -> tuple[dict, tuple | None]:
    done = [o for o in ops if o is not None]
    walls = [o.wall_s for o in done]
    if not walls:
        raise RuntimeError("no operation completed; see the errors above")
    ok = sum(1 for o in done if not o.errors)
    values = {
        "setup_s": setup_s,
        "throughput_per_s": sum(o.work for o in done) / sum(walls),
        "op_p50_s": statistics.median(walls),
        "op_tail_s": p90(walls),
        "stored_bytes_per_input_byte": statistics.median(w.stored_bytes) / w.input_bytes(),
        "ok_op_share": ok / len(ops),
    }
    return values, tail(walls)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kmtricks_spark")):
        print(f"perfbench: no kmtricks_spark/ package in {ROOT}; run from a checkout"
              " of the repository", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    _environment()

    import duckdb

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of"
              f" {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    duck = duckdb.connect(config={"threads": cores, "memory_limit": "1GB",
                                  "temp_directory": os.path.join(WORK, "duckdb")})
    w = workloads.WORKLOADS[args.workload](args.seed, WORK, duck)
    t = time.time()
    w.prepare()
    prepare_s = time.time() - t

    # set-up: everything from process start to the first timed operation,
    # except input generation and the DuckDB expected values
    spark = _session(cores)
    session_s = time.time() - PROCESS_START - prepare_s
    t = time.time()
    w.warm_up(spark)
    setup_s = time.time() - PROCESS_START - prepare_s
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "work_unit": w.work_unit, "shape": w.corpus.shape,
        "prepare_s": prepare_s, "session_s": session_s, "warm_up_s": time.time() - t,
    }
    try:
        ops, errors = _timed_loop(w, spark, args.seconds)
        if args.trace:
            metrics, trace_detail, ops2, errors2 = _traced(w, spark, cores, args, ops)
            spark = None
            ops, errors = ops + ops2, errors + errors2
            detail["trace"] = trace_detail
        else:
            values, ten_beyond = _end_to_end(w, setup_s, ops)
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
            # a run holds too few operations for a percentile with ten
            # beyond it to be a tail; op_tail_s is the run's p90
            detail["ten_beyond_s_and_percentile"] = ten_beyond
    finally:
        if spark is not None:
            _stop_jvm(spark)
        w.cleanup()
    detail["op_walls_s"] = [o.wall_s if o else None for o in ops]
    if any(o and o.kind for o in ops):
        detail["op_kinds"] = [o.kind if o else None for o in ops]
    detail["errors"] = errors[:50]
    failed = sum(1 for o in ops if o is None or o.errors)
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


def _traced(w, spark, cores, args, untraced_ops):
    """Second pass with tracing on: a new SparkContext that writes an event
    log, spans around every call into the engine, then per-layer metrics
    (per operation: sums over the traced operations divided by their count)."""
    import glob

    import spans as sp
    from eventlog import read_event_log
    from workloads import PROBES

    spark.stop()
    log_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = _session(cores, event_log=log_dir)
    tracer = sp.Tracer(spark)
    sp.instrument(tracer)
    try:
        with sp.RssSampler() as rss:
            ops, errors = _timed_loop(w, spark, args.seconds, tracer)
    finally:
        tracer.unwrap()
        _stop_jvm(spark)
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    groups = read_event_log(log)
    n = len(ops)
    layers = {layer: sp.layer_metrics(tracer.spans, groups, layer) for layer in sp.LAYERS}
    full = {f"{layer}.{k}": v / n for layer, m in layers.items() for k, v in m.items()}
    counts_write = sp.tag_metrics(tracer.spans, groups, "count", "counts")
    n_probes = PROBES * sum(1 for s in tracer.spans if s.name == "bloom_stage.bf_probe")
    written = layers["pages"]["output_bytes"]
    traced = statistics.median(o.wall_s for o in ops if o is not None)
    untraced = statistics.median(o.wall_s for o in untraced_ops if o is not None)
    full.update({
        "count.agg_reduction": (counts_write["shuffle_write_records"] / n
                                / w.corpus.shape["kgrams"]),
        "lineage.rescan_ratio": layers["lineage"]["input_bytes"] / written if written else 0.0,
        "bloom_stage.probe_shuffle_bytes_per_probe": (
            layers["bloom_stage"]["shuffle_write_bytes"] / n_probes if n_probes else 0.0),
        "pipeline.stage_counts.wall_s": sum(
            s.end - s.start for s in tracer.spans if s.name == "pipeline.stage_counts") / n,
        "trace.traced_op_s": traced,
        "trace.untraced_op_s": untraced,
        "trace.overhead_s": traced - untraced,
        "proc.peak_rss_mb": rss.peak_mb,
        "spark.failed_tasks": sum(g.failed_tasks for g in groups.values()),
    })
    metrics = {name: {"value": full.get(name, 0.0), "unit": unit}
               for name, unit in sp.per_layer_metrics()}
    detail = {"traced_ops": n, "spans": len(tracer.spans), "per_layer": full}
    return metrics, detail, ops, errors


if __name__ == "__main__":
    sys.exit(main())
