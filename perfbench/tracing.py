"""Tracing for the benchmark: in-memory spans, layer wrappers, and the
parsers that turn Spark's event log and streaming progress into the
``spark.*`` and ``stream.*`` per-layer metrics.

Everything here lives in the benchmark. Nothing in the program is edited:
:meth:`Tracer.install` replaces the layers' public functions (and the
PySpark actions the jobs call) with timing wrappers as module attributes,
and :meth:`Tracer.uninstall` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    out = {}
    for s in spans:
        covered = union_length(
            (max(a, s.t0), min(b, s.t1)) for a, b in kids.get(s.id, []) if b > s.t0 and a < s.t1
        )
        out[s.id] = (s.t1 - s.t0) - covered
    return out


# Wrapped layer functions: (module, attribute path, span name, tag the
# returned DataFrame so its action counts toward this span's layer).
LAYER_FUNCS = [
    ("acoustic_feature_extractor_spark.session", "get_spark", "session.get_spark", False),
    ("acoustic_feature_extractor_spark.plans.pipeline", "turn_features", "pipeline.turn_features", False),
    ("acoustic_feature_extractor_spark.plans.lineage", "RunManifest.save", "lineage.manifest_save", False),
    ("acoustic_feature_extractor_spark.operators.stats", "corpus_stats", "stats.corpus_stats", True),
    ("acoustic_feature_extractor_spark.operators.sketches", "psi_from_hists", "sketches.drift", True),
    ("acoustic_feature_extractor_spark.operators.sketches", "ks_from_hists", "sketches.drift", True),
    ("acoustic_feature_extractor_spark.sources.snapshots", "history", "snapshots.history", False),
    ("acoustic_feature_extractor_spark.sources.snapshots", "read", "snapshots.read", False),
    ("acoustic_feature_extractor_spark.sources.snapshots", "commit", "snapshots.commit", False),
    ("acoustic_feature_extractor_spark.sources.snapshots", "merge_upsert", "snapshots.merge_upsert", False),
]
# PySpark calls that run Spark work synchronously on the caller's thread.
ACTIONS = [
    ("pyspark.sql.dataframe", "DataFrame.collect"),
    ("pyspark.sql.dataframe", "DataFrame.count"),
    ("pyspark.sql.dataframe", "DataFrame.first"),
    ("pyspark.sql.dataframe", "DataFrame.take"),
    ("pyspark.sql.dataframe", "DataFrame.toPandas"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save"),
    ("pyspark.sql.streaming.query", "StreamingQuery.awaitTermination"),
]
_TAG = "_perfbench_layer"


def _resolve(mod_name: str, path: str):
    owner = importlib.import_module(mod_name)
    *outer, attr = path.split(".")
    for name in outer:
        owner = getattr(owner, name)
    return owner, attr


class Tracer:
    """Spans kept in memory with parent ids; written out by the caller."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        s = Span(len(self.spans), stack[-1] if stack else None, name, time.time(), attrs=attrs)
        self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.t1 = time.time()
            stack.pop()

    def wrap(self, fn, name: str, tag: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if tag and hasattr(out, "sparkSession"):
                out.__dict__[_TAG] = name
            return out

        return wrapper

    def wrap_action(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kwargs):
            stack = tracer._stack()
            if stack and tracer.spans[stack[-1]].name.startswith("spark.action."):
                return fn(obj, *args, **kwargs)  # nested in an outer action
            layer = obj.__dict__.get(_TAG) if hasattr(obj, "__dict__") else None
            with tracer.span(name, layer=layer):
                return fn(obj, *args, **kwargs)

        return wrapper

    def install(self) -> None:
        if self._saved:
            return
        for mod, path, name, tag in LAYER_FUNCS:
            owner, attr = _resolve(mod, path)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name, tag))
        for mod, path in ACTIONS:
            owner, attr = _resolve(mod, path)
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap_action(orig, f"spark.action.{attr}"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(vars(s)) + "\n")


def descendants(spans: list[Span], root: int) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k.id)
    return out


def layer_metrics(spans: list[Span], roots: list[int]) -> dict[str, float]:
    """Per-invocation layer figures from the spans under its job roots."""
    sub = [s for root in roots for s in descendants(spans, root)]
    selft = self_times(spans)

    def total(name: str) -> float:
        return sum(s.t1 - s.t0 for s in sub if s.name == name)

    def tagged(layer: str) -> float:
        return sum(s.t1 - s.t0 for s in sub if s.attrs.get("layer") == layer)

    return {
        "pipeline.turn_features_s": total("pipeline.turn_features"),
        "pipeline.turn_features_calls": sum(s.name == "pipeline.turn_features" for s in sub),
        "lineage.manifest_save_s": total("lineage.manifest_save"),
        "lineage.manifest_saves": sum(s.name == "lineage.manifest_save" for s in sub),
        "stats.corpus_stats_s": total("stats.corpus_stats") + tagged("stats.corpus_stats"),
        "sketches.drift_s": total("sketches.drift") + tagged("sketches.drift"),
        "snapshots.history_s": total("snapshots.history"),
        "snapshots.commit_s": total("snapshots.commit"),
        "snapshots.merge_upsert_s": total("snapshots.merge_upsert"),
        "snapshots.meta_s": sum(selft[s.id] for s in sub if s.name.startswith("snapshots.")),
    }


# ---------------------------------------------------------------- event log


@dataclass
class SparkJob:
    id: int
    t0: float  # seconds since the epoch
    t1: float


@dataclass
class Task:
    stage: int
    t0: float
    t1: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    fetch_wait_s: float
    spill: int
    output_bytes: int


@dataclass
class EventLog:
    jobs: list[SparkJob]
    tasks: list[Task]
    scans: list[tuple[float, int]]  # (SQL execution start, bytes of the files a scan read)


def _scan_size_ids(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == "size of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_size_ids(child, out)


def parse_event_log(lines) -> EventLog:
    """Jobs, finished tasks and file scans from an uncompressed Spark event
    log. Scan sizes come from the scans' "size of files read" SQL metric:
    the tasks' input "Bytes Read" undercounts vectorized parquet reads."""
    starts: dict[int, float] = {}
    jobs: list[SparkJob] = []
    tasks: list[Task] = []
    size_ids: set[int] = set()
    sql_start: dict[int, float] = {}
    scans: list[tuple[float, int]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _scan_size_ids(ev["sparkPlanInfo"], size_ids)
            if kind.endswith("SQLExecutionStart"):
                sql_start[ev["executionId"]] = ev["time"] / 1000.0
        elif kind.endswith("DriverAccumUpdates"):
            t = sql_start.get(ev["executionId"])
            scans += [(t, v) for a, v in ev["accumUpdates"] if a in size_ids and t is not None]
        elif kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = ev["Submission Time"] / 1000.0
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            jobs.append(SparkJob(ev["Job ID"], starts[ev["Job ID"]], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerTaskEnd" and "Task Metrics" in ev:
            info, m = ev["Task Info"], ev["Task Metrics"]
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    t0=info["Launch Time"] / 1000.0,
                    t1=info["Finish Time"] / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    fetch_wait_s=sr.get("Fetch Wait Time", 0) / 1000.0,
                    spill=m.get("Disk Bytes Spilled", 0),
                    output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
                )
            )
    return EventLog(jobs, tasks, scans)


def spark_metrics(log: EventLog, t0: float, t1: float, wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*``, ``jobs.*`` and scan figures of one invocation, from
    the Spark jobs, tasks and SQL executions started inside ``[t0, t1]``."""
    jobs = [j for j in log.jobs if t0 <= j.t0 <= t1]
    tasks = [k for k in log.tasks if t0 <= k.t0 <= t1]
    in_job = union_length((j.t0, j.t1) for j in jobs)
    run_s = sum(k.run_s for k in tasks)
    by_stage: dict[int, list[Task]] = {}
    for k in tasks:
        by_stage.setdefault(k.stage, []).append(k)
    skew = 0.0
    if by_stage:
        longest = max(by_stage.values(), key=lambda ts: max(k.t1 for k in ts) - min(k.t0 for k in ts))
        durs = [k.t1 - k.t0 for k in longest]
        med = statistics.median(durs)
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "jobs.driver_s": wall_s - in_job,
        "jobs.spark_jobs": len(jobs),
        "spark.in_job_s": in_job,
        "spark.stages": len(by_stage),
        "spark.tasks": len(tasks),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": sum(k.cpu_s for k in tasks),
        "spark.gc_s": sum(k.gc_s for k in tasks),
        "spark.shuffle_write_bytes": sum(k.shuffle_write for k in tasks),
        "spark.shuffle_read_bytes": sum(k.shuffle_read for k in tasks),
        "spark.fetch_wait_s": sum(k.fetch_wait_s for k in tasks),
        "spark.spill_bytes": sum(k.spill for k in tasks),
        "spark.output_bytes": sum(k.output_bytes for k in tasks),
        "sources.scan_bytes": sum(v for t, v in log.scans if t0 <= t <= t1),
        "spark.slot_busy": run_s / (in_job * cores) if in_job > 0 else 0.0,
        "spark.task_skew": skew,
    }


# ---------------------------------------------------------- stream progress


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """The ``stream.*`` figures from micro-batch progress records (the
    JSON of ``StreamingQueryProgress``): per-batch phase medians, state
    size at its largest, and rows dropped as late."""

    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(statistics.median(vals)) if vals else 0.0

    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "stream.batches": len(progress),
        "stream.add_batch_ms": med("addBatch"),
        "stream.query_planning_ms": med("queryPlanning"),
        "stream.latest_offset_ms": med("latestOffset"),
        "stream.wal_commit_ms": med("walCommit"),
        "stream.state_rows": max((op.get("numRowsTotal", 0) for op in state), default=0),
        "stream.state_mem_bytes": max((op.get("memoryUsedBytes", 0) for op in state), default=0),
        "stream.late_rows": sum(op.get("numRowsDroppedByWatermark", 0) for op in state),
    }


def make_progress_listener(sink: list[dict]):
    """A ``StreamingQueryListener`` that appends each progress record's
    JSON to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()
