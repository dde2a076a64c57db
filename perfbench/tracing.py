"""Layer tracing from outside the engine: spans plus the Spark event log.

The traced run wraps the engine's public entry points (module attributes,
patched in this process only) in spans. A span has an id, a name, a
start, an end, its parent span and the call (trace) it belongs to. While a
span is open, its id is the Spark job group of the calling thread, so each
job in the event log names the innermost span that ran it. Spans stay in
memory and are written once, at the end.

``fold`` then reads the uncompressed, non-rolling event log and charges
every completed stage of a traced call to one layer, by the plan nodes
whose SQL metrics the stage updated (accumulator ids of the plan infos in
``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate``; an
``InMemoryTableScan`` lists the plan that builds the cached narrow frame
as its child, so L1-L3 stay visible behind the cache):

* ``scan`` (L1)       the stage scans the validated fact input;
* ``join`` (L3)       it runs a sort-merge join or window, or scans the
                      reference or a dimension table;
* ``sketch``          it runs a pandas UDF (the drift digests);
* ``explode`` (L4)    it explodes violation structs (``Generate``);
* ``sink`` (L6)       it writes files or reads an output back;
* ``verdicts`` (L5)   anything else (counts, uniqueness, the verdict grid).

A stage shared by two layers goes to the first in this list: the cache
build of L1-L3 runs in the same stage as its first consumer, and the
upstream work dominates such stages. Stages overlap under AQE, so layers
report CPU time next to wall time; a layer's wall time is the union of its
stages' submit-to-complete intervals.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

NODE_LAYERS = [
    ("join", ("SortMergeJoin", "Window")),
    ("sketch", ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython")),
    ("explode", ("Generate",)),
    ("sink", ("WriteFiles", "Execute InsertIntoHadoopFsRelationCommand")),
]


class Tracer:
    """Spans around patched entry points, with one Spark job group per span."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self.trace_id = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "id": f"span-{next(self._ids)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else self.trace_id,
            "start": time.time(),
            "end": None,
            "attrs": {},
        }
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            rec["end"] = time.time()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_enter=None) -> None:
        """Replace ``owner.attr`` by a spanned version until ``unwrap``."""
        orig = owner.__dict__[attr]
        func = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                if on_enter is not None:
                    on_enter(rec, args)
                return func(*args, **kwargs)

        traced.__wrapped__ = func
        setattr(owner, attr, staticmethod(traced) if isinstance(orig, staticmethod) else traced)
        self._patched.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public layer entry points."""
    from hdfs_anomaly_detection_spark import manifest
    from hdfs_anomaly_detection_spark.constraints import runner
    from hdfs_anomaly_detection_spark.sketch import drift

    def cache_size(rec, args):
        result = args[0]
        if result.cached is not None:
            infos = tracer.sc._jsc.sc().getRDDStorageInfo()
            rec["attrs"]["cache_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)

    tracer.wrap(manifest.ValidationJob, "run", "manifest.run")
    tracer.wrap(manifest.ValidationJob, "partition_fingerprints", "manifest.fingerprint")
    tracer.wrap(manifest.ValidationJob, "completed_fingerprints", "manifest.completed")
    tracer.wrap(runner.ValidationRunner, "run", "runner.run")
    tracer.wrap(runner.ValidationResult, "unpersist", "runner.unpersist", on_enter=cache_size)
    tracer.wrap(drift, "drift_verdicts", "sketch.drift_verdicts")
    tracer.wrap(drift, "compute_baselines", "sketch.compute_baselines")


# ------------------------------------------------------------------ folding


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total / 1000.0


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class EventLog:
    """The parts of a Spark event log that the layer fold needs."""

    def __init__(self, path: str) -> None:
        self.acc_node: dict[int, tuple[str, str]] = {}   # accumulator → (node, description)
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.task_read: dict[int, list[int]] = {}        # stage → shuffle bytes read per task
        self.peak_rss = 0
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.acc_node[m["accumulatorId"]] = (info["nodeName"].strip(), info.get("simpleString", ""))
        for child in info.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "stages": e["Stage IDs"],
            }
        elif kind == "SparkListenerStageCompleted":
            s = e["Stage Info"]
            if "Completion Time" not in s or s.get("Failure Reason"):
                return
            accs = {}
            for a in s.get("Accumulables", []):
                try:
                    accs[a["ID"]] = (a["Name"], int(a["Value"]))
                except (TypeError, ValueError):
                    continue
            self.stages[s["Stage ID"]] = {
                "submit": s["Submission Time"],
                "complete": s["Completion Time"],
                "tasks": s["Number of Tasks"],
                "accs": accs,
            }
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            r = m.get("Shuffle Read Metrics") or {}
            read = r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            self.task_read.setdefault(e["Stage ID"], []).append(read)
        elif kind == "SparkListenerExecutorMetricsUpdate":
            for u in e.get("Executor Metrics Updated", []):
                self.peak_rss = max(self.peak_rss, u["Executor Metrics"].get("ProcessTreeJVMRSSMemory", 0))
        elif kind == "SparkListenerStageExecutorMetrics":
            self.peak_rss = max(self.peak_rss, e["Executor Metrics"].get("ProcessTreeJVMRSSMemory", 0))

    def stage_metric(self, sid: int, name: str) -> int:
        return sum(v for n, v in self.stages[sid]["accs"].values() if n == name)

    def nodes(self, sid: int) -> list[tuple[str, str]]:
        return [self.acc_node[a] for a in self.stages[sid]["accs"] if a in self.acc_node]


def _reads_outputs(nodes: list[tuple[str, str]]) -> bool:
    files = [desc for name, desc in nodes if name.startswith("Scan parquet")]
    return bool(files) and all(
        any(o in d for o in ("/verdicts]", "/manifest]", "/violations]")) for d in files
    )


def _layer(nodes: list[tuple[str, str]], fact_marker: str) -> str:
    files = [desc for name, desc in nodes if name.startswith("Scan parquet")]
    if any(fact_marker in d for d in files):
        return "scan"
    names = {name for name, _ in nodes}
    for layer, keys in NODE_LAYERS:
        if names & set(keys):
            return layer
    if _reads_outputs(nodes):
        return "sink"
    if files:
        return "join"  # reference or dimension scan feeding the L3 joins
    return "verdicts"


def fold(log: EventLog, spans: list[dict], calls: list[str], fact_marker: str) -> dict:
    """Per-call layer figures, as medians over the traced ``calls``."""
    by_id = {s["id"]: s for s in spans}
    per_call: dict[str, dict] = {c: {} for c in calls}

    def add(call: str, key: str, value: float) -> None:
        per_call[call][key] = per_call[call].get(key, 0.0) + value

    walls: dict[tuple[str, str], list] = {}
    for job in log.jobs.values():
        span = by_id.get(job["group"])
        if span is None or span["trace"] not in per_call:
            continue
        call = span["trace"]
        add(call, "jobs", 1)
        # a job under the fingerprint / completed-manifest spans belongs to
        # manifest bookkeeping, not to the validation plan
        chain, s = set(), span
        while s is not None:
            chain.add(s["name"])
            s = by_id.get(s["parent"])
        bookkeeping = bool(chain & {"manifest.fingerprint", "manifest.completed"})
        staged = [sid for sid in job["stages"] if sid in log.stages]  # others were skipped
        layers = {sid: _layer(log.nodes(sid), fact_marker) for sid in staged}
        if any(_reads_outputs(log.nodes(sid)) for sid in staged):
            # the manifest summary reads the verdicts back: its aggregation
            # stages are sink work too
            layers = {sid: "sink" if lay == "verdicts" else lay for sid, lay in layers.items()}
        for sid in staged:
            st = log.stages[sid]
            cpu = log.stage_metric(sid, "internal.metrics.executorCpuTime") / 1e9
            add(call, "stages", 1)
            add(call, "tasks", st["tasks"])
            add(call, "cpu_s", cpu)
            add(call, "run_s", log.stage_metric(sid, "internal.metrics.executorRunTime") / 1e3)
            add(call, "gc_s", log.stage_metric(sid, "internal.metrics.jvmGCTime") / 1e3)
            add(call, "input_bytes", log.stage_metric(sid, "internal.metrics.input.bytesRead"))
            add(call, "shuffle_write_bytes", log.stage_metric(sid, "internal.metrics.shuffle.write.bytesWritten"))
            spill = log.stage_metric(sid, "internal.metrics.diskBytesSpilled")
            add(call, "spill_bytes", spill)
            if bookkeeping:
                continue
            layer = layers[sid]
            add(call, f"{layer}.cpu_s", cpu)
            walls.setdefault((call, layer), []).append((st["submit"], st["complete"]))
            if "sketch.drift_verdicts" in chain and layer in ("scan", "join"):
                # the first action on the cached narrow frame builds it
                # inside the drift span; that time is not the sketch's
                walls.setdefault((call, "cache_build_in_sketch"), []).append((st["submit"], st["complete"]))
            if layer == "join":
                add(call, "join.spill_bytes", spill)
                reads = sorted(log.task_read.get(sid, []))
                if len(reads) > 1 and reads[len(reads) // 2] > 0:
                    skew = reads[-1] / statistics.median(reads)
                    per_call[call]["exchange.skew"] = max(per_call[call].get("exchange.skew", 0.0), skew)
            for acc, (name, value) in st["accs"].items():
                node, desc = log.acc_node.get(acc, ("", ""))
                narrow = "hashpartitioning(conv_id#" in desc and layer == "scan"
                if node == "Exchange" and name == "shuffle bytes written":
                    add(call, "exchange.count", 1)
                    if narrow:
                        add(call, "exchange.bytes", value)
                elif node == "Exchange" and name == "shuffle records written" and narrow:
                    add(call, "exchange.rows", value)
                elif node == "Generate" and name == "number of output rows" and layer == "explode":
                    add(call, "explode.rows", value)
        if not bookkeeping and "verdicts" in layers.values():
            add(call, "verdicts.jobs", 1)
    for (call, layer), iv in walls.items():
        per_call[call][f"{layer}.wall_s"] = _union_s(iv)
    for pc in per_call.values():
        pc["drift_s"] = pc.get("drift_s", 0.0) - pc.pop("cache_build_in_sketch.wall_s", 0.0)
    for s in spans:
        if s["trace"] in per_call:
            key = {"manifest.fingerprint": "fingerprint_s", "manifest.completed": "completed_s",
                   "sketch.drift_verdicts": "drift_s", "streaming.handler": "handler_s"}.get(s["name"])
            if key:
                add(s["trace"], key, s["end"] - s["start"])
            if s["name"] == "runner.unpersist" and "cache_bytes" in s["attrs"]:
                add(s["trace"], "cache_bytes", s["attrs"]["cache_bytes"])
    return {k: _med(pc.get(k, 0.0) for pc in per_call.values())
            for k in sorted({k for pc in per_call.values() for k in pc})}
