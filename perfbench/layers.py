"""Per-layer tracing for the benchmark's traced run.

Four sources, all read from outside the program:

* :class:`Tracer` — spans around calls into each layer's public functions
  and around the benchmark's own job steps. A wrapper replaces the
  function in every package module that holds it, because plan modules
  bind names at import (``from ..catalog import load_table``). A layer's
  self time is its spans' duration minus the part their child spans cover.
* :class:`CatalystListener` — a ``QueryExecutionListener`` registered over
  py4j. It reads the phase tracker of the ``QueryExecution`` that actually
  ran; the frame a plan returns never runs itself, because every action
  builds its own.
* :class:`StreamListener` — a ``StreamingQueryListener`` collecting the
  per-micro-batch phase durations.
* the Spark event log — jobs, stages, tasks and the SQL metrics of the
  Python-worker plan nodes.

Spans carry epoch times, so listener and event-log records are attributed
to passes by wall-clock window.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PKG = "batch_processing_iac_aws_spark"

#: (module, function, layer) for every wrapped public function. Aliases
#: (``append_table = append_index`` and the like) are the same object and
#: are rebound with it.
WRAPPED = [
    ("sources.files", "latest_dated_file", "sources.latest_dated_file"),
    ("io", "read_csv", "io.read_csv"),
    ("io", "write_parquet", "io.write_parquet"),
    ("operators.timeseries", "expand_intervals", "timeseries.expand_intervals"),
    ("catalog", "load_table", "catalog.load_table"),
    ("catalog", "fanout_scan", "catalog.fanout_scan"),
    ("operators.index_store", "store_commit", "index_store.commit"),
    ("operators.index_store", "append_index", "index_store.append"),
    ("operators.index_store", "compact_index", "index_store.compact"),
    ("operators.index_store", "compact_if_needed", "index_store.compact"),
    ("operators.index_store", "layout_audit", "index_store.audit"),
    ("operators.index_store", "assert_appendable", "index_store.audit"),
    ("operators.index_store", "assert_append_schema", "index_store.audit"),
    ("operators.index_store", "read_index", "index_store.read"),
]

#: Layers whose self time is reported as ``<layer>_s`` per traced pass.
TIMED = sorted({layer for _m, _f, layer in WRAPPED}
               | {"plans.construct", "plans.drain"})
#: Layers whose call count is reported as ``<layer>_calls``.
COUNTED = ["catalog.load_table"] + sorted(
    {layer for _m, _f, layer in WRAPPED if layer.startswith("index_store")})

#: Plan nodes that run operators in Python workers (ArrowEvalPython,
#: BatchEvalPython, MapInPandas, MapInArrow, FlatMapGroupsInPandas, ...).
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")

#: StreamingQueryProgress.durationMs keys -> metric names.
STREAM_PHASES = {
    "triggerExecution": "stream.trigger_ms",
    "addBatch": "stream.add_batch_ms",
    "getBatch": "stream.get_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "latestOffset": "stream.latest_offset_ms",
}

SPARK_SUMS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
              "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_mb",
              "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb",
              "spark.output_mb", "python.exec_nodes", "python.worker_s",
              "python.sent_mb", "python.received_mb"]


def _tree_bytes(path: str) -> "tuple[int, int]":
    """(data files, bytes) under a dataset path."""
    if not os.path.isdir(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class Span:
    __slots__ = ("name", "job", "parent", "pass_id", "t0", "t1", "e0", "e1")

    def __init__(self, name, job, parent, pass_id):
        self.name, self.job, self.parent, self.pass_id = (
            name, job, parent, pass_id)
        self.t0, self.e0 = time.perf_counter(), time.time() * 1000
        self.t1 = self.e1 = None


class Tracer:
    """Spans and counters, each tagged with the pass that was running.

    An inactive tracer records nothing, so the same job code runs traced
    and untraced."""

    def __init__(self) -> None:
        self.active = False
        self.pass_id = -1
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, job: str = ""):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        span = Span(name, job or (parent.job if parent else ""), parent,
                    self.pass_id)
        self.spans.append(span)
        self._stack.append(span)
        try:
            yield
        finally:
            self._stack.pop()
            span.t1, span.e1 = time.perf_counter(), time.time() * 1000

    def add(self, key: str, value: float) -> None:
        self.counts[(self.pass_id, key)] += value

    def total(self, key: str, passes: "set[int]") -> float:
        return sum(v for (p, k), v in self.counts.items()
                   if k == key and p in passes)

    def install(self) -> None:
        """Wrap every function in :data:`WRAPPED`, in every package module
        that holds it."""
        import importlib

        importlib.import_module(f"{PKG}.plans")
        for mod_name, _attr, _layer in WRAPPED:
            importlib.import_module(f"{PKG}.{mod_name}")
        mods = [m for n, m in list(sys.modules.items())
                if n == PKG or n.startswith(PKG + ".")]
        for mod_name, attr, layer in WRAPPED:
            orig = getattr(sys.modules[f"{PKG}.{mod_name}"], attr)
            wrapper = self._wrapper(orig, layer)
            for mod in mods:
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)

    def _wrapper(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            self.add(f"{layer}_calls", 1)
            with self.span(layer):
                out = fn(*args, **kwargs)
            if layer == "io.write_parquet":
                files, size = _tree_bytes(args[1])
                self.add("io.files_written", files)
                self.add("io.bytes_written", size)
            elif layer == "io.read_csv":
                self.add("io.csv_bytes", _tree_bytes(args[1])[1])
            return out

        return wrapper

    def self_times(self, passes: "set[int]") -> "dict[str, float]":
        """Summed self time per span name over the given passes."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None and s.t1 is not None:
                child[id(s.parent)] += s.t1 - s.t0
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.pass_id in passes and s.t1 is not None:
                out[s.name] += (s.t1 - s.t0) - child[id(s)]
        return out

    def windows(self, name: str, passes: "set[int]",
                jobs: "set[str] | None" = None) -> "list[tuple]":
        """Epoch-ms windows of the named spans in the given passes."""
        return [(s.e0, s.e1) for s in self.spans
                if s.name == name and s.pass_id in passes and s.e1
                and (jobs is None or s.job in jobs)]


class CatalystListener:
    """Collects (phase, start epoch ms, duration ms) of every query
    execution."""

    def __init__(self) -> None:
        self.phases: list[tuple[str, int, int]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (py4j)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (py4j)
        self._record(qe)

    def _record(self, qe) -> None:
        tracked = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            found = tracked.get(phase)
            if found.isDefined():
                summary = found.get()
                self.phases.append(
                    (phase, summary.startTimeMs(), summary.durationMs()))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class StreamListener(StreamingQueryListener):
    """Collects (trigger start epoch ms, durationMs) of every micro-batch."""

    def __init__(self) -> None:
        self.batches: list[tuple[float, dict]] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        started = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        epoch_ms = (started - datetime(1970, 1, 1)).total_seconds() * 1000
        self.batches.append((epoch_ms, dict(p.durationMs)))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Listeners:
    def __init__(self, catalyst: CatalystListener, stream: StreamListener):
        self.catalyst, self.stream = catalyst, stream

    def flush(self, spark) -> None:
        """Wait until the listener bus has delivered every event."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def attach_listeners(spark) -> Listeners:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    catalyst, stream = CatalystListener(), StreamListener()
    spark._jsparkSession.listenerManager().register(catalyst)
    spark.streams.addListener(stream)
    return Listeners(catalyst, stream)


def _in(t: float, windows: "list[tuple]") -> bool:
    return any(t0 <= t <= t1 for t0, t1 in windows)


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


#: Display names of the Python-node SQL metrics -> python.* metrics.
PYTHON_METRICS = {
    "time to start python workers": "python.boot_s",
    "time to run python workers": "python.worker_s",
    "data sent to python workers": "python.sent_mb",
    "data returned from python workers": "python.received_mb",
}


def _scaled(metric: str, metric_type: str, value: float) -> float:
    """MB for sizes, seconds for timings."""
    if metric.endswith("_mb"):
        return value / 1e6
    return value / (1e9 if metric_type == "nsTiming" else 1e3)


class EventLog:
    """The records of a Spark event log directory that the metrics use."""

    def __init__(self, event_dir: str) -> None:
        self.job_starts: list[float] = []
        self.stage_starts: list[float] = []
        # (launch ms, stage id, metrics dict, python metric updates)
        self.tasks: list[tuple[float, int, dict, dict]] = []
        plans: dict[int, tuple[float, dict]] = {}
        python_accums: dict[int, tuple[str, str]] = {}
        for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
            with open(path) as fh:
                for line in fh:
                    if line.strip():
                        self._event(json.loads(line), plans, python_accums)
        self.python_nodes = [
            (started, sum(1 for node in _plan_nodes(info)
                          if PYTHON_NODE.search(node["nodeName"])))
            for started, info in plans.values()]

    def _event(self, ev: dict, plans: dict, python_accums: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            self.job_starts.append(ev["Submission Time"])
        elif kind == "SparkListenerStageSubmitted":
            self.stage_starts.append(ev["Stage Info"].get("Submission Time", 0))
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            python = defaultdict(float)
            for acc in info.get("Accumulables", []):
                if acc.get("ID") in python_accums:
                    metric, mtype = python_accums[acc["ID"]]
                    python[metric] += _scaled(metric, mtype,
                                              float(acc.get("Update", 0)))
            self.tasks.append((info["Launch Time"], ev["Stage ID"],
                               ev.get("Task Metrics") or {}, python))
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            exec_id = ev["executionId"]
            started = ev.get("time", plans.get(exec_id, (0,))[0])
            plans[exec_id] = (started, ev["sparkPlanInfo"])
            for node in _plan_nodes(ev["sparkPlanInfo"]):
                if PYTHON_NODE.search(node["nodeName"]):
                    for m in node.get("metrics", []):
                        metric = PYTHON_METRICS.get(m["name"].lower())
                        if metric:
                            python_accums[m["accumulatorId"]] = (
                                metric, m["metricType"])

    def totals(self, windows: "list[tuple]") -> "dict[str, float]":
        """Spark and Python-boundary totals over epoch-ms windows."""
        out: dict[str, float] = defaultdict(float)
        out["spark.jobs"] = sum(_in(t, windows) for t in self.job_starts)
        out["spark.stages"] = sum(_in(t, windows) for t in self.stage_starts)
        stage_tasks: dict[int, list[float]] = defaultdict(list)
        for launch, stage, m, python in self.tasks:
            if not _in(launch, windows):
                continue
            out["spark.tasks"] += 1
            run_s = m.get("Executor Run Time", 0) / 1e3
            stage_tasks[stage].append(run_s)
            out["spark.task_run_s"] += run_s
            out["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            read = m.get("Shuffle Read Metrics", {})
            out["spark.shuffle_read_mb"] += (
                read.get("Remote Bytes Read", 0)
                + read.get("Local Bytes Read", 0)) / 1e6
            out["spark.shuffle_write_mb"] += m.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            out["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            out["spark.input_mb"] += m.get(
                "Input Metrics", {}).get("Bytes Read", 0) / 1e6
            out["spark.output_mb"] += m.get(
                "Output Metrics", {}).get("Bytes Written", 0) / 1e6
            for metric, value in python.items():
                out[metric] += value
        out["python.exec_nodes"] = sum(
            n for started, n in self.python_nodes if _in(started, windows))
        skews = [max(ts) / statistics.median(ts)
                 for ts in stage_tasks.values()
                 if len(ts) >= 2 and statistics.median(ts) > 0]
        out["spark.stage_skew"] = max(skews, default=1.0)
        return out


def layer_metrics(tracer: Tracer, listeners: Listeners, event_dir: str, *,
                  traced: "set[int]", cold: "set[int]", cores: int,
                  stream_jobs: "set[str]") -> "dict[str, float]":
    """Every per-layer metric, per traced pass (``python.boot_s`` from the
    cold pass, which is the one that boots the workers)."""
    n = len(traced)
    passes = tracer.windows("pass", traced)
    wall_s = sum(e1 - e0 for e0, e1 in passes) / 1000
    out: dict[str, float] = {}

    self_s = tracer.self_times(traced)
    for layer in TIMED:
        out[f"{layer}_s"] = self_s.get(layer, 0.0) / n
    out["trace.unattributed_s"] = self_s.get("pass", 0.0) / n
    for layer in COUNTED:
        out[f"{layer}_calls"] = tracer.total(f"{layer}_calls", traced) / n
    for key in ("io.bytes_written", "io.files_written"):
        out[key] = tracer.total(key, traced) / n
    csv_bytes = tracer.total("io.csv_bytes", traced)
    out["io.write_amp"] = (tracer.total("io.bytes_written", traced) / csv_bytes
                           if csv_bytes else 0.0)

    log = EventLog(event_dir)
    spark = log.totals(passes)
    for key in SPARK_SUMS:
        out[key] = spark[key] / n
    out["spark.stage_skew"] = spark["spark.stage_skew"]
    out["spark.core_busy_frac"] = spark["spark.task_run_s"] / (wall_s * cores)
    out["python.boot_s"] = log.totals(
        tracer.windows("pass", cold))["python.boot_s"]
    out["plans.construct_jobs"] = log.totals(
        tracer.windows("plans.construct", traced))["spark.jobs"] / n

    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = sum(
            d for p, start, d in listeners.catalyst.phases
            if p == phase and _in(start, passes)) / n

    batches = [d for t, d in listeners.stream.batches if _in(t, passes)]
    out["stream.batches"] = len(batches) / n
    for key, metric in STREAM_PHASES.items():
        out[metric] = sum(d.get(key, 0) for d in batches) / n
    stream_calls = tracer.windows("plans.construct", traced, stream_jobs)
    in_calls = sum(d.get("triggerExecution", 0) for t, d
                   in listeners.stream.batches if _in(t, stream_calls))
    out["stream.outside_batch_s"] = (
        sum(e1 - e0 for e0, e1 in stream_calls) - in_calls) / 1000 / n
    return out
