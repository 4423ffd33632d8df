"""Per-layer tracing for the benchmark's ``--trace 1`` runs.

Three sources, all kept in memory and read once the measured work is over:

- spans recorded around calls into the engine's public functions. The
  wrappers are installed *before* ``nyuki_spark.queries`` is imported,
  because the query modules bind the names with ``from ... import`` at
  import time; engine modules that already bound a name that way are
  pointed at the wrapper too;
- every micro-batch's phase durations and state-store figures, from a
  ``StreamingQueryListener`` of the benchmark's own (queries started inside
  engine_fns) or from the query's ``recentProgress`` (bus_live's query);
- Spark's event log, parsed after the session stops: jobs, tasks, executor
  time, shuffle/spill/scan bytes and the SQL plan trees (Python plan nodes
  and their metrics).

Nothing here runs when tracing is off.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import re
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

__all__ = ["Tracer", "install_wrappers", "make_listener", "progress_record", "parse_event_log", "iso_ms", "PHASES"]

# Engine packages whose public functions are timed, and the layer each
# belongs to. ``sources.broker`` and ``plans`` are left unmeasured.
WRAPPED_PACKAGES = {
    "nyuki_spark.functions": "functions",
    "nyuki_spark.operators": "operators",
    "nyuki_spark.streaming": "streaming",
}
WRAPPED_FUNCTIONS = {
    "nyuki_spark.session": ("session", ("get_session",)),
    "nyuki_spark.catalog": ("catalog", ("load_table", "register_tables")),
}
# Factories whose *returned* callable is what does the work per call.
RETURNS_WORKER = {"idempotent_parquet_sink": "sink.write"}

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")

# Physical operators that run user code in Python workers.
_PY_NODE = re.compile(r"(InPandas|InArrow|EvalPython|PythonUDTF|WindowPython|PythonScan)")
_EXPR_ID = re.compile(r"#\d+L?")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    tag: str | None
    children_s: float = 0.0


@dataclass
class Tracer:
    """Spans, in memory. ``tag`` names the execution (query id and pass) the
    current spans belong to."""

    spans: list[Span] = field(default_factory=list)
    tag: str | None = None
    wall_offset: float = field(default_factory=lambda: time.time() - time.perf_counter())
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        span = Span(name, layer, time.perf_counter(), 0.0, stack[-1] if stack else None, self.tag)
        with self._lock:  # sink writes run on the stream's callback thread
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack().pop()
        if span.parent is not None:
            self.spans[span.parent].children_s += span.end - span.start

    def self_time(self) -> dict[str, dict[str, float]]:
        """tag -> layer -> seconds not covered by child spans."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s.end:
                out[s.tag or "-"][s.layer] += max(0.0, s.end - s.start - s.children_s)
        return {k: dict(v) for k, v in out.items()}

    def wall_ms(self, span: Span) -> float:
        return (span.start + self.wall_offset) * 1000

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name and s.end]


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    worker_name = RETURNS_WORKER.get(fn.__name__)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        idx = tracer.begin(name, layer)
        try:
            result = fn(*args, **kwargs)
        finally:
            tracer.end(idx)
        if worker_name and callable(result):
            return _wrap(tracer, result, worker_name, worker_name.split(".")[0])
        return result

    return wrapper


def install_wrappers(tracer: Tracer) -> None:
    """Replace the engine's public functions with timing wrappers. Must run
    before ``nyuki_spark.queries`` is imported."""
    if "nyuki_spark.queries" in sys.modules:
        raise RuntimeError("install_wrappers must run before nyuki_spark.queries is imported")
    targets: list[tuple[object, str, str]] = []
    for pkg_name, layer in WRAPPED_PACKAGES.items():
        pkg = importlib.import_module(pkg_name)
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg_name}.{info.name}")
            for attr in getattr(mod, "__all__", ()):
                targets.append((mod, attr, layer))
    for mod_name, (layer, attrs) in WRAPPED_FUNCTIONS.items():
        mod = importlib.import_module(mod_name)
        targets.extend((mod, a, layer) for a in attrs)
    wrapped: dict[int, tuple[object, object]] = {}  # id(original) -> (original, wrapper)
    for mod, attr, layer in targets:
        fn = getattr(mod, attr, None)
        if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
            continue  # constants, classes and re-exports
        short = mod.__name__.rsplit(".", 1)[-1]
        wrapper = _wrap(tracer, fn, f"{layer}.{short}.{attr}", layer)
        wrapped[id(fn)] = (fn, wrapper)
        setattr(mod, attr, wrapper)
    # Engine modules imported above that bound an original with
    # ``from ... import`` (operators.dedup from functions.text, the package
    # re-exports) still hold it; point them at the wrapper.
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == "nyuki_spark" or name.startswith("nyuki_spark.")):
            continue
        for attr, value in list(vars(mod).items()):
            hit = wrapped.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, attr, hit[1])


def iso_ms(stamp: str) -> float:
    """Epoch ms of a progress event's ISO-8601 trigger timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000


def progress_record(p: dict) -> dict:
    """The figures kept of one micro-batch, from its progress JSON."""
    ops = p.get("stateOperators") or []
    return {
        "query_id": p["id"],
        "batch_id": p["batchId"],
        "start_ms": iso_ms(p["timestamp"]),
        "rows": p["numInputRows"],
        "duration_ms": dict(p.get("durationMs") or {}),
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
    }


def make_listener():
    """A StreamingQueryListener that keeps every progress event's record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BenchListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(progress_record(json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BenchListener()


def _py_nodes(plan: dict, out: list[dict]) -> None:
    if _PY_NODE.search(plan.get("nodeName", "")):
        out.append(plan)
    for child in plan.get("children", ()):
        _py_nodes(child, out)


def _window_of(windows: list[tuple[float, float, str, float]], t_ms: float):
    for start, end, key, collect_start in windows:
        if start <= t_ms <= end:
            return key, ("build" if t_ms < collect_start else "collect")
    return None, None


def parse_event_log(
    log_dir: str, windows: list[tuple[float, float, str, float]]
) -> tuple[dict[str, dict[str, float]], list[float]]:
    """Aggregate Spark's event log per execution window.

    ``windows`` holds ``(start_ms, end_ms, key, collect_start_ms)`` in wall
    clock milliseconds; a job belongs to the window its submission time falls
    in, and is *hidden* when submitted before the window's collect started.
    Returns key -> metric -> value, and every job's submission time.
    """
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)] if os.path.isdir(log_dir) else []
    stage_key: dict[int, str] = {}
    exec_key: dict[int, str] = {}
    plans: dict[int, dict] = {}
    acc_updates: dict[int, float] = defaultdict(float)
    acc_name: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    tasks: list[dict] = []
    submitted: list[float] = []
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    submitted.append(ev.get("Submission Time", 0))
                    key, phase = _window_of(windows, ev.get("Submission Time", 0))
                    if key is None:
                        continue
                    out[key]["exec.jobs"] += 1
                    if phase == "build":
                        out[key]["exec.hidden_jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_key[sid] = key
                    props = ev.get("Properties") or {}
                    if "spark.sql.execution.id" in props:
                        exec_key[int(props["spark.sql.execution.id"])] = key
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    plans[int(ev["executionId"])] = ev["sparkPlanInfo"]
    for ev in tasks:
        key = stage_key.get(ev.get("Stage ID"))
        info = ev.get("Task Info") or {}
        for acc in info.get("Accumulables") or ():
            if "Update" in acc and isinstance(acc["Update"], (int, float, str)):
                try:
                    acc_updates[acc["ID"]] += float(acc["Update"])
                except ValueError:
                    continue
                acc_name[acc["ID"]] = acc.get("Name", "")
        if key is None:
            continue
        m = ev.get("Task Metrics") or {}
        o = out[key]
        o["exec.tasks"] += 1
        o["exec.run_ms"] += m.get("Executor Run Time", 0)
        o["exec.gc_ms"] += m.get("JVM GC Time", 0)
        o["exec.shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        o["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        o["exec.scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    distinct: dict[str, set[str]] = defaultdict(set)
    for eid, plan in plans.items():
        key = exec_key.get(eid)
        if key is None:
            continue
        nodes: list[dict] = []
        _py_nodes(plan, nodes)
        for node in nodes:
            metrics = {m.get("name", ""): m.get("accumulatorId") for m in node.get("metrics", ())}
            ran = any(acc_updates.get(a) for a in metrics.values())
            if not ran:
                continue
            out[key]["python.node_runs"] += 1
            distinct[key].add(_EXPR_ID.sub("", node.get("simpleString", node.get("nodeName", ""))))
            for name, acc in metrics.items():
                value = acc_updates.get(acc, 0.0)
                lname = name.lower()
                if "time" in lname and "python" in lname:
                    out[key]["python.worker_ms"] += value
                elif "sent to python" in lname:
                    out[key]["python.bytes_sent"] += value
    for key, nodes in distinct.items():
        out[key]["python.distinct_nodes"] = len(nodes)
    return {k: dict(v) for k, v in out.items()}, sorted(submitted)
