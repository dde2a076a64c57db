"""Validation benchmark: one workload per invocation.

    python3 perfbench/run.py --workload full_suite --seed 1 --seconds 20 --trace 0

Run from the repository root. The engine is imported from the checkout
(``hdfs_anomaly_detection_spark/``); a directory without it exits with
code 2 before anything is printed. Every file the run writes stays under
``.perfbench_work/`` in the checkout: generated inputs, Spark's local and
temporary directories, the event log, the DuckDB spill directory and the
outputs of each call.

``--trace 0`` measures the end-to-end metrics with no tracing. ``--trace 1``
turns on the Spark event log, traces half the timed calls through
patched entry points (see ``tracing.py``) and reports the per-layer
metrics instead, with the tracing overhead measured against the untraced
calls of the same run.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every call is
checked against DuckDB (``oracle.py``); any mismatch makes the run exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM_CAP_GIB = 4


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _host_env(run_dir: str) -> int:
    """Point every temporary and spill directory into the checkout, size the
    driver heap below physical RAM, and return the parallelism (``nproc``)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(DRIVER_MEM_CAP_GIB, int(ram_gib * 0.4)))}g"
    # a fixed set of JIT compiler threads: workloads.tree_cpu_s leaves their
    # CPU out per thread, which needs threads that never exit
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp}"
    )
    return len(os.sched_getaffinity(0))


def _start_spark(run_dir: str, cpus: int, trace: bool):
    from hdfs_anomaly_detection_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
            # plan strings name the scanned paths in full, so the fold can
            # tell the fact scan and the output read-backs from the others
            "spark.sql.maxMetadataStringLength": "100000",
        }
    return get_spark(parallelism=cpus, app_name="perfbench", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _end_to_end(res, session_s: float) -> dict:
    return {
        "turns_per_cpu_s": (res.turns / res.throughput_cpu_s, "turns/cpu_s"),
        "call_cpu_s.p50": (_med(res.call_cpu_s), "s"),
        "setup_s": (session_s + _med(res.setup_s), "s"),
    }


def _wall(res) -> dict:
    """Wall-clock figures of the same calls: printed, not in the JSON result
    (on a shared host their run-to-run spread exceeds any usable bound)."""
    return {
        "turns_per_sec": (res.turns / res.throughput_s, "turns/s"),
        "validate_s.p50": (_med(res.call_s), "s"),
        "epoch_s.p50": (_med(res.epoch_s), "s"),
    }


def _per_layer(res, spans, events_dir: str) -> dict:
    import tracing

    (log_file,) = os.listdir(events_dir)
    log = tracing.EventLog(os.path.join(events_dir, log_file))
    f = tracing.fold(log, spans, res.traced, res.fact_marker)
    rows = f.get("exchange.rows", 0.0)
    g = lambda k: f.get(k, 0.0)  # noqa: E731
    baseline_s = [s["end"] - s["start"] for s in spans if s["name"] == "sketch.compute_baselines"]
    processed, changed = _med(res.processed), _med(res.changed)
    return {
        "runner.scan.cpu_s": (g("scan.cpu_s"), "s"),
        "runner.scan.rows": (rows, "rows"),
        "runner.scan.ns_per_row": (g("scan.cpu_s") * 1e9 / rows if rows else 0.0, "ns/row"),
        "runner.scan.shuffle_bytes_per_row": (g("exchange.bytes") / rows if rows else 0.0, "B/row"),
        "runner.exchange.shuffle_write_bytes": (g("exchange.bytes"), "B"),
        "runner.exchange.skew": (g("exchange.skew"), "ratio"),
        "runner.exchange.count": (g("exchange.count"), "count"),
        "runner.join.cpu_s": (g("join.cpu_s"), "s"),
        "runner.join.spill_bytes": (g("join.spill_bytes"), "B"),
        "runner.join.cache_bytes": (g("cache_bytes"), "B"),
        "runner.explode.cpu_s": (g("explode.cpu_s"), "s"),
        "runner.explode.violation_rows": (g("explode.rows"), "rows"),
        "runner.verdicts.cpu_s": (g("verdicts.cpu_s"), "s"),
        "runner.verdicts.jobs": (g("verdicts.jobs"), "count"),
        "sketch.wall_s": (g("drift_s"), "s"),
        "sketch.cpu_s": (g("sketch.cpu_s"), "s"),
        "sketch.baseline_s": (_med(baseline_s), "s"),
        "manifest.fingerprint_s": (g("fingerprint_s"), "s"),
        "manifest.completed_s": (g("completed_s"), "s"),
        "manifest.sink_s": (g("sink.wall_s"), "s"),
        "manifest.parts_processed": (processed, "count"),
        "manifest.parts_changed": (changed, "count"),
        "manifest.useful_ratio": (changed / processed if processed else 0.0, "ratio"),
        "manifest.log_rows": (float(res.log_rows), "rows"),
        "streaming.handler_s.p50": (_med(res.handler_s), "s"),
        "streaming.trigger_overhead_s.p50": (_med(res.overhead_s), "s"),
        "spark.jobs": (g("jobs"), "count"),
        "spark.stages": (g("stages"), "count"),
        "spark.tasks": (g("tasks"), "count"),
        "spark.executor_cpu_s": (g("cpu_s"), "s"),
        "spark.executor_run_s": (g("run_s"), "s"),
        "spark.gc_s": (g("gc_s"), "s"),
        "spark.input_bytes": (g("input_bytes"), "B"),
        "spark.shuffle_write_bytes": (g("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (g("spill_bytes"), "B"),
        "spark.jvm_peak_rss_mb": (log.peak_rss / 2**20, "MB"),
        "trace.overhead_frac": (_med(res.traced_s) / _med(res.untraced_s) - 1.0, "ratio"),
    }


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "hdfs_anomaly_detection_spark", "__init__.py")):
        print(f"perfbench: the engine package is missing under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = _host_env(run_dir)
    log = lambda msg: print(msg, flush=True)  # noqa: E731
    log(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"cpus={cpus} driver_mem={os.environ['SPARK_DRIVER_MEM']}")

    t0 = time.perf_counter()
    spark = _start_spark(run_dir, cpus, bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark.sparkContext)
    ctx = workloads.Context(spark, args.seed, args.seconds, run_dir, tracer, session_s, log)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        _stop_spark(spark)
    for e in res.errors[:20]:
        log(f"  MISMATCH {e}")
    log(f"  input: {json.dumps(res.props)}")
    log(f"  failed_frac: {res.failed / max(1, res.attempted):.4f} ratio ({res.failed} of {res.attempted} calls)")
    if res.failed or not res.attempted:
        print(json.dumps({"correct": False, "attempted": res.attempted, "failed": res.failed,
                          "metrics": {}}))
        return 1
    if args.trace:
        trace_dir = os.path.join(WORK, f"trace-{args.workload}-{args.seed}")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        tracer.dump(os.path.join(trace_dir, "spans.json"))
        metrics = _per_layer(res, tracer.spans, os.path.join(run_dir, "events"))
        with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
            json.dump(metrics, fh, indent=1)
    else:
        metrics = _end_to_end(res, session_s)
        log(f"  samples: {len(res.call_s)} calls, {len(res.epoch_s)} epochs, "
            f"{len(res.setup_s)} set-ups (session start {session_s:.3f} s)")
        for name, (value, unit) in _wall(res).items():
            log(f"  {name}: {value:.6g} {unit} (wall clock, not in the result line)")
    for name, (value, unit) in metrics.items():
        log(f"  {name}: {value:.6g} {unit}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": True,
        "attempted": res.attempted,
        "failed": 0,
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
