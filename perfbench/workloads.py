"""The three workloads. Each drives the engine only through its public
entry points (``ValidationJob.run`` and ``streaming.foreach_batch_validator``),
checks every call against the DuckDB oracle, and returns its raw figures.

A workload is a closed loop: one caller, the next call starts when the
previous one has returned (or, for the stream, when the previous epoch has
committed).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import inputs
import oracle as oracle_mod
import tracing

from hdfs_anomaly_detection_spark.constraints import (
    Drift,
    TextEquals,
    ValidationRunner,
    default_transcript_checks,
)
from hdfs_anomaly_detection_spark.constraints.runner import reference_hashes
from hdfs_anomaly_detection_spark.manifest import ValidationJob
from hdfs_anomaly_detection_spark.sketch import drift
from hdfs_anomaly_detection_spark.streaming import foreach_batch_validator

TABLE_TURNS = 18_000
SETUP_REPS = 3
WARMUP_CALLS = 1
NOMINAL_CALL_S = 8.0
MIN_CALLS = 2
STREAM_WARM_EPOCHS = 1
EPOCH_TURNS = 3_000
EPOCH_NOMINAL_S = 10.0
STREAM_TIMEOUT_S = 120
REWRITTEN_BUCKETS = 2

TEXT_EQUALS = TextEquals("text_equals")
DRIFT = {
    "drift_text_length_ks": ("text_length", "ks", 0.15),
    "drift_turn_count_psi": ("turn_count", "psi", 0.15),
}


def checks():
    return default_transcript_checks() + [TEXT_EQUALS] + [
        Drift(name, metric=m, method=how, threshold=t) for name, (m, how, t) in DRIFT.items()
    ]


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: tracing.Tracer | None
    session_s: float
    log: callable


@dataclass
class Result:
    """Raw figures of one workload run."""

    turns: int                      # validated turns per timed call (or in the timed epochs)
    call_s: list[float]             # wall per timed call (ValidationJob.run)
    epoch_s: list[float]            # wall per epoch (batch calls: same as call_s)
    throughput_s: float             # wall the turns/s figure divides by
    setup_s: list[float]            # one per set-up repetition
    call_cpu_s: list[float] = field(default_factory=list)  # process-tree CPU per timed call
    throughput_cpu_s: float = 0.0   # process-tree CPU the turns/cpu_s figure divides by
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    traced: list[str] = field(default_factory=list)       # trace ids of traced calls
    traced_s: list[float] = field(default_factory=list)
    untraced_s: list[float] = field(default_factory=list)
    processed: list[int] = field(default_factory=list)    # partitions processed per traced call
    changed: list[int] = field(default_factory=list)      # partitions whose input changed
    log_rows: int = 0
    handler_s: list[float] = field(default_factory=list)
    overhead_s: list[float] = field(default_factory=list)  # trigger time outside the handler
    fact_marker: str = ""
    props: dict = field(default_factory=dict)

    def record(self, label: str, errs: list[str]) -> None:
        """Count one checked call or epoch."""
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += [f"{label}: {e}" for e in errs]


# ------------------------------------------------------------------ helpers


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a /proc stat file; None if the
    process or thread ended while we looked."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (``C1 CompilerThread0``,
    ``C2 CompilerThread1``, ...; the kernel keeps 15 characters of a name).
    ``run.py`` starts the JVM with a fixed set of compiler threads, so none
    exits and takes its ticks out of this sum."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            ticks += int(st[1][11]) + int(st[1][12])
    return ticks


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and all its
    descendants (the Spark JVM and the Python workers it forks), less the
    JVM's JIT compilation. Exited children count once their parent has
    reaped them (``cutime``), so the difference of two readings is the CPU
    the tree spent between them, on every core: executor tasks, planning,
    scheduling, GC, Python workers and this driver. JIT compilation is left
    out because it is the JVM warming up, not the engine's work: it falls
    call after call in a fresh JVM, and how fast depends on how much CPU the
    host leaves free, which made it the noisiest part of a call's CPU."""
    parent, used, name = {}, {}, {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st is None:
            continue
        pid, (name[pid], f) = int(d), st
        parent[pid] = int(f[1])
        used[pid] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        if name.get(pid) == "java":
            total -= _jit_ticks(pid)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _setup(ctx: Context, table: str, rep: int):
    """The per-table work a user pays once: canonical reference hashes and
    drift baselines, both from the clean copy."""
    spark = ctx.spark
    clean = spark.read.parquet(f"{table}/clean")
    ref = f"{ctx.work}/ref-{rep}"
    reference_hashes(clean, TEXT_EQUALS).write.parquet(ref)
    baselines = drift.compute_baselines(
        clean, sorted({m for m, _, _ in DRIFT.values()}), n_buckets=inputs.N_BUCKETS
    )
    return ValidationRunner(
        checks(),
        n_buckets=inputs.N_BUCKETS,
        dims={
            "conversations": spark.read.parquet(f"{table}/conversations"),
            "tools": spark.read.parquet(f"{table}/tools"),
        },
        reference=spark.read.parquet(ref),
        baselines=baselines,
    )


@contextmanager
def _traced(ctx: Context, trace_id: str, on: bool = True):
    """Patch the engine's entry points for the block, its spans under
    ``trace_id``; a no-op in an untraced run."""
    if ctx.tracer is None or not on:
        yield
        return
    ctx.tracer.trace_id = trace_id
    tracing.instrument(ctx.tracer)
    try:
        yield
    finally:
        ctx.tracer.unwrap()


def _timed_setup(ctx: Context, table: str, rep: int):
    t0 = time.perf_counter()
    with _traced(ctx, f"setup-{rep}"):
        runner = _setup(ctx, table, rep)
    return runner, time.perf_counter() - t0


def _call(ctx: Context, name: str, traced: bool, fn):
    """Run ``fn`` once, traced or not; returns (wall, cpu, value), cpu
    from ``tree_cpu_s``."""
    with _traced(ctx, name, traced):
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        value = fn()
        wall = time.perf_counter() - t0
        return wall, tree_cpu_s() - c0, value


def _closed_loop(ctx: Context, res: Result, one_call) -> None:
    """WARMUP_CALLS untimed calls, then a fixed number of timed calls:
    ``ctx.seconds / NOMINAL_CALL_S``, at least MIN_CALLS, so both sides of a
    comparison time the same calls at the same point of the JVM's warm-up.
    A traced run makes one more call and traces every other one (untraced,
    traced, untraced, ...), so a trend along the run (the JVM still
    warming) cancels out of the tracing overhead.

    ``one_call(name, traced)`` returns (wall, cpu, errors)."""
    for i in range(WARMUP_CALLS):
        wall, cpu, errs = one_call(f"warm-{i}", False)
        res.record(f"warm-{i}", errs)
        ctx.log(f"  warm-up call {i}: {wall:.3f} s, cpu {cpu:.2f} s{' FAILED' if errs else ''}")
    n = max(MIN_CALLS, round(ctx.seconds / NOMINAL_CALL_S))
    for i in range(n if ctx.tracer is None else n + 1):
        traced = ctx.tracer is not None and i % 2 == 1
        name = f"call-{i}"
        wall, cpu, errs = one_call(name, traced)
        res.record(name, errs)
        ctx.log(f"  {'traced ' if traced else ''}call {i}: {wall:.3f} s, cpu {cpu:.2f} s"
                f"{' FAILED' if errs else ''}")
        if traced:
            res.traced.append(name)
            res.traced_s.append(wall)
        else:
            res.call_s.append(wall)
            res.call_cpu_s.append(cpu)
    res.untraced_s = list(res.call_s)
    res.epoch_s = list(res.call_s)
    res.throughput_s = statistics.median(res.call_s)
    res.throughput_cpu_s = statistics.median(res.call_cpu_s)


# ---------------------------------------------------------------- workloads


def full_suite(ctx: Context) -> Result:
    spark = ctx.spark
    t_in = time.perf_counter()
    table = inputs.table_dir(spark, ctx.work, ctx.seed, TABLE_TURNS)
    fact_dir = f"{table}/fact"
    files = sorted(f"{fact_dir}/{f}" for f in os.listdir(fact_dir))
    orc = oracle_mod.Oracle(table, {0: files}, ctx.work)
    parts = orc.parts(0)
    res = Result(turns=orc.n_turns(0), call_s=[], epoch_s=[], throughput_s=0.0, setup_s=[],
                 fact_marker=fact_dir + "]")
    res.props = {"turns": res.turns, "raw_text_mismatch_rate": orc.raw_mismatch_rate(0)}
    ctx.log(f"  inputs and oracle ready in {time.perf_counter() - t_in:.3f} s")
    for rep in range(SETUP_REPS):
        runner, wall = _timed_setup(ctx, table, rep)
        res.setup_s.append(wall)
        ctx.log(f"  setup {rep}: {wall:.3f} s")
    fact = spark.read.parquet(fact_dir)

    def one_call(name, traced):
        out = f"{ctx.work}/out-{name}"
        shutil.rmtree(out, ignore_errors=True)
        try:
            wall, cpu, summary = _call(ctx, name, traced, lambda: ValidationJob(runner, out).run(fact))
        except Exception as exc:  # a raising call is a failed call, not a crash
            return 0.0, 0.0, [f"{type(exc).__name__}: {exc}"]
        errs = [] if summary["processed"] == len(parts) else [
            f"processed {summary['processed']} of {len(parts)} partitions"]
        errs += orc.check_outputs(out, 0, parts, DRIFT)
        if traced:
            res.processed.append(summary["processed"])
            res.changed.append(len(parts))  # a fresh output directory: every partition is new
            res.log_rows = orc.manifest_rows(f"{out}/manifest")
        shutil.rmtree(out, ignore_errors=True)
        return wall, cpu, errs

    _closed_loop(ctx, res, one_call)
    orc.close()
    return res


def resume_rewrite(ctx: Context) -> Result:
    spark = ctx.spark
    t_in = time.perf_counter()
    table = inputs.table_dir(spark, ctx.work, ctx.seed, TABLE_TURNS)
    buckets = sorted(random.Random(ctx.seed).sample(range(inputs.N_BUCKETS), REWRITTEN_BUCKETS))
    rewrite = inputs.rewritten_buckets(spark, table, ctx.seed, buckets)
    fact_dir = f"{table}/fact"
    base_files = sorted(f"{fact_dir}/{f}" for f in os.listdir(fact_dir))
    replaced = {f"bucket-{b:02d}.parquet" for b in buckets}
    rewritten_files = [f for f in base_files if os.path.basename(f) not in replaced]
    rewritten_files += [f"{rewrite}/{name}" for name in sorted(replaced)]
    orc = oracle_mod.Oracle(table, {0: base_files, 1: rewritten_files}, ctx.work)
    all_parts = orc.parts(0)
    res = Result(turns=orc.n_turns(1, buckets), call_s=[], epoch_s=[], throughput_s=0.0,
                 setup_s=[], fact_marker=fact_dir + "]")
    res.props = {
        "turns": orc.n_turns(0),
        "rewritten_buckets": buckets,
        "rewritten_turns": res.turns,
        "raw_text_mismatch_rate_rewritten": orc.raw_mismatch_rate(1),
        "text_edits_expected": orc.text_edit_rows(1, buckets),
    }
    ctx.log(f"  inputs and oracle ready in {time.perf_counter() - t_in:.3f} s")
    fact = spark.read.parquet(fact_dir)
    base = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        runner, _ = _timed_setup(ctx, table, rep)
        out = f"{ctx.work}/base-{rep}"
        summary = ValidationJob(runner, out).run(fact)
        res.setup_s.append(time.perf_counter() - t0)
        ctx.log(f"  setup {rep} (with initial validation): {res.setup_s[-1]:.3f} s")
        errs = [] if summary["processed"] == len(all_parts) else ["initial validation skipped partitions"]
        errs += orc.check_outputs(out, 0, all_parts, DRIFT)
        res.record(f"setup {rep}", errs)
        if base is not None:
            shutil.rmtree(base)
        base = out
    # the re-ingest: two bucket files replaced by re-cased, re-spaced copies
    # (new file names, as a re-ingest writes new data files)
    for name in sorted(replaced):
        os.remove(f"{fact_dir}/{name}")
        os.rename(f"{rewrite}/{name}", f"{fact_dir}/{name[:-8]}-rewrite.parquet")
    fact = spark.read.parquet(fact_dir)

    def one_call(name, traced):
        out = f"{ctx.work}/out"
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(base, out)  # restore the validated state's manifest and outputs
        try:
            wall, cpu, summary = _call(
                ctx, name, traced, lambda: ValidationJob(runner, out).run(fact, run_id=name))
        except Exception as exc:
            return 0.0, 0.0, [f"{type(exc).__name__}: {exc}"]
        errs = []
        if summary["processed"] != len(buckets):
            errs.append(f"processed {summary['processed']} partitions, {len(buckets)} changed")
        errs += orc.check_manifest_rows(f"{out}/manifest", name, 1, buckets, len(DRIFT))
        errs += orc.check_outputs(out, 1, buckets, DRIFT)
        if traced:
            res.processed.append(summary["processed"])
            res.changed.append(len(buckets))
            res.log_rows = orc.manifest_rows(f"{out}/manifest")
        return wall, cpu, errs

    _closed_loop(ctx, res, one_call)
    orc.close()
    return res


def _source_log(checkpoint: str) -> dict[int, str]:
    """batchId → file, from the file-stream source log of the checkpoint."""
    import json

    out = {}
    d = f"{checkpoint}/sources/0"
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(f"{d}/{name}") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[int(e["batchId"])] = e["path"].replace("file://", "")
    return out


def stream_epochs(ctx: Context) -> Result:
    spark = ctx.spark
    t_in = time.perf_counter()
    timed = max(MIN_CALLS, round(ctx.seconds / EPOCH_NOMINAL_S))
    if ctx.tracer is not None:
        timed += 1  # untraced, traced, untraced, ... as in _closed_loop
    n_epochs = STREAM_WARM_EPOCHS + timed
    table = inputs.table_dir(spark, ctx.work, ctx.seed, TABLE_TURNS, epochs=(n_epochs, EPOCH_TURNS))
    epochs = f"{table}/epochs"
    files = sorted(f"{epochs}/{f}" for f in os.listdir(epochs))
    grp_of = {f: i for i, f in enumerate(files)}
    orc = oracle_mod.Oracle(table, {i: [f] for i, f in enumerate(files)}, ctx.work)
    res = Result(turns=0, call_s=[], epoch_s=[], throughput_s=0.0, setup_s=[], fact_marker=epochs + "/")
    res.props = {"epochs": n_epochs, "warm_epochs": STREAM_WARM_EPOCHS,
                 "turns_per_epoch": [orc.n_turns(g) for g in range(n_epochs)]}
    ctx.log(f"  inputs and oracle ready in {time.perf_counter() - t_in:.3f} s")
    for rep in range(SETUP_REPS):
        runner, wall = _timed_setup(ctx, table, rep)
        res.setup_s.append(wall)
        ctx.log(f"  setup {rep}: {wall:.3f} s")
    out, checkpoint = f"{ctx.work}/stream-out", f"{ctx.work}/stream-checkpoint"
    job = ValidationJob(runner, out)  # one job, reused by every epoch
    handle = foreach_batch_validator(job)
    handler_s: dict[int, float] = {}
    handler_cpu_s: dict[int, float] = {}
    cpu_at_end: dict[int, float] = {}  # tree_cpu_s() when each handler returned

    def traced_epoch(epoch: int) -> bool:
        return ctx.tracer is not None and (epoch - STREAM_WARM_EPOCHS) % 2 == 1

    def on_batch(batch_df, epoch_id):
        traced = traced_epoch(epoch_id)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with _traced(ctx, f"epoch-{epoch_id}", traced):
            if traced:
                with ctx.tracer.span("streaming.handler"):
                    handle(batch_df, epoch_id)
            else:
                handle(batch_df, epoch_id)
        handler_s[epoch_id] = time.perf_counter() - t0
        cpu_at_end[epoch_id] = tree_cpu_s()
        handler_cpu_s[epoch_id] = cpu_at_end[epoch_id] - c0

    schema = spark.read.parquet(files[0]).schema
    query = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(epochs)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination(STREAM_TIMEOUT_S)
        failure = query.exception()
    finally:
        if query.isActive:
            query.stop()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    if failure is not None or len(progress) != n_epochs:
        res.attempted, res.failed = n_epochs, n_epochs
        res.errors.append(f"stream ended after {len(progress)} of {n_epochs} epochs: {failure}")
        orc.close()
        return res
    source = _source_log(checkpoint)
    ends = {}
    for p in progress:
        epoch = p["batchId"]
        trigger_s = p["durationMs"]["triggerExecution"] / 1000.0
        start = time.mktime(time.strptime(p["timestamp"][:19], "%Y-%m-%dT%H:%M:%S")) + float("0" + p["timestamp"][19:-1])
        ends[epoch] = start + trigger_s
        grp = grp_of[source[epoch]]
        parts = orc.parts(grp)
        errs = orc.check_manifest_rows(f"{out}/manifest", f"epoch-{epoch}", grp, parts, len(DRIFT))
        if epoch == n_epochs - 1:
            errs += orc.check_outputs(out, grp, parts, DRIFT)
        res.record(f"epoch {epoch}", errs)
        ctx.log(f"  epoch {epoch}: trigger {trigger_s:.3f} s, handler {handler_s[epoch]:.3f} s, "
                f"cpu {handler_cpu_s[epoch]:.2f} s, "
                f"{orc.n_turns(grp)} turns{' FAILED' if errs else ''}")
        if epoch < STREAM_WARM_EPOCHS:
            continue
        if traced_epoch(epoch):
            res.traced.append(f"epoch-{epoch}")
            res.traced_s.append(trigger_s)
            res.processed.append(len(parts))
            res.changed.append(len(parts))  # conversations are disjoint across epochs
            res.handler_s.append(handler_s[epoch])
            res.overhead_s.append(trigger_s - handler_s[epoch])
        else:
            res.turns += orc.n_turns(grp)
            res.epoch_s.append(trigger_s)
            res.call_s.append(handler_s[epoch])
            res.call_cpu_s.append(handler_cpu_s[epoch])
            res.untraced_s.append(trigger_s)
    if ctx.tracer is None:
        res.throughput_s = ends[n_epochs - 1] - ends[STREAM_WARM_EPOCHS - 1]
        res.throughput_cpu_s = cpu_at_end[n_epochs - 1] - cpu_at_end[STREAM_WARM_EPOCHS - 1]
    res.log_rows = orc.manifest_rows(f"{out}/manifest")
    orc.close()
    return res


WORKLOADS = {
    "full_suite": full_suite,
    "resume_rewrite": resume_rewrite,
    "stream_epochs": stream_epochs,
}
