"""Spans, self time, and the Spark-side readers of the traced run.

Three sources feed the per-layer metrics:

* :class:`Tracer` wraps the engine's public functions (module
  attributes) so every call records a span with its parent. Self time
  is a span's duration minus the part of it its children cover, so a
  ``materialize`` inside a plan build is charged to ``session``, not
  to the plan.
* :func:`parse_event_log` reads Spark's uncompressed, non-rolling JSON
  event log and charges every job, stage and task to the op whose time
  window holds the job's submission. Windows, not job groups: load
  lanes run on pool threads that do not inherit the caller's job group.
* :class:`StreamListener` (a ``StreamingQueryListener``) and
  :class:`PlanListener` (a JVM ``QueryExecutionListener`` implemented
  over py4j) record trigger progress and Catalyst phase times.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None  # index of the op the span ran in


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the span). Children may overlap: concurrent load lanes
    under one ``run_load`` are covered once, not once per lane."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = (s.end - s.start) - union_length(clipped)
    return out


class Tracer:
    """In-memory span recorder.

    Each thread keeps its own stack of open spans. A span opened on a
    thread with an empty stack (a load lane in ``run_load``'s pool) is
    parented to the innermost span open on the thread that opened the
    current op, which is the call that started the pool.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, main: bool = False) -> Span:
        st = self._stack()
        if main:
            self._main_stack = st
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), parent=parent, op=self.op)
            self.spans.append(span)
        st.append(span.id)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == span.id:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str, main: bool = False):
        """A span around the ``with`` body; ``main`` marks the op's own
        thread (see the class docstring)."""
        span = self.begin(name, main)
        try:
            yield span
        finally:
            self.end(span)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, targets: dict[str, str]) -> None:
        """Wrap ``module:function`` targets as ``span name``.

        The wrapper replaces the function in its own module and in every
        loaded module of the engine that bound it by ``from ... import``,
        so call sites that resolve the name at call time all go through
        the span.
        """
        for target, name in targets.items():
            mod_name, attr = target.split(":")
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            wrapped = self.wrap(name, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").split(".")[0] != "voter_file_etl_spark":
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, wrapped)
                        self._patched.append((m, k, orig))

    def uninstall(self) -> None:
        for m, k, orig in reversed(self._patched):
            setattr(m, k, orig)
        self._patched.clear()

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total seconds and self seconds."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            agg = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["s"] += s.end - s.start
            agg["self_s"] += selfs[s.id]
        return out

    def mean_overlap(self, name: str) -> float:
        """Mean number of ``name`` spans running at once, over the time
        at least one runs (1.0 = fully serial)."""
        iv = [(s.start, s.end) for s in self.spans if s.name == name]
        covered = union_length(iv)
        return sum(e - s for s, e in iv) / covered if covered else 0.0


class NoTracer:
    """Stands in for :class:`Tracer` in untraced runs."""

    op: int | None = None

    def span(self, name: str, main: bool = False):
        return contextlib.nullcontext()


NO_TRACE = NoTracer()


@dataclass
class OpWindow:
    index: int
    start_ms: float  # epoch milliseconds, the event log's clock
    end_ms: float
    build_end_ms: float | None = None


@dataclass
class ExecStats:
    jobs: int = 0
    build_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_intervals: list = field(default_factory=list)
    executor_run_ms: float = 0.0
    executor_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    input: float = 0.0
    output: float = 0.0
    python_rows: float = 0.0
    python_bytes: float = 0.0


# SQL metrics of the Python evaluation nodes (PythonSQLMetrics). Rows
# come from the "number of output rows" metric of the node that also
# carries these.
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _python_row_metrics(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the output-row metric of every node that runs
    Python workers (stateful operators carry the byte metrics too, but
    evaluate nothing in Python)."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_BYTES[0] in metrics and not plan.get("nodeName", "").startswith("StateStore"):
        if "number of output rows" in metrics:
            out.add(metrics["number of output rows"])
    for child in plan.get("children", []):
        _python_row_metrics(child, out)


def parse_event_log(path: str, windows: list[OpWindow]) -> dict[int, ExecStats]:
    """Op index -> execution counters from one event-log file.

    A job belongs to the op whose [start, end] window holds its
    submission time; stages and tasks follow their job."""
    stats = {w.index: ExecStats() for w in windows}
    stage_op: dict[int, int] = {}
    job_op: dict[int, int] = {}
    job_start: dict[int, float] = {}
    py_rows: set[int] = set()

    def op_of(t_ms: float) -> int | None:
        for w in windows:
            if w.start_ms <= t_ms <= w.end_ms:
                return w.index
        return None

    by_index = {w.index: w for w in windows}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_row_metrics(ev.get("sparkPlanInfo", {}), py_rows)
            elif kind == "SparkListenerJobStart":
                op = op_of(ev["Submission Time"])
                if op is None:
                    continue
                jid = ev["Job ID"]
                job_op[jid] = op
                job_start[jid] = ev["Submission Time"]
                st = stats[op]
                st.jobs += 1
                bend = by_index[op].build_end_ms
                if bend is not None and ev["Submission Time"] <= bend:
                    st.build_jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_op[sid] = op
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_op:
                    stats[job_op[jid]].job_intervals.append(
                        (job_start[jid], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                op = stage_op.get(info["Stage ID"])
                # Skipped stages (shuffle output reused) never submit.
                if op is not None and info.get("Submission Time") is not None:
                    stats[op].stages += 1
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(ev["Stage ID"])
                if op is None:
                    continue
                st = stats[op]
                st.tasks += 1
                info = ev.get("Task Info", {})
                if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") not in (
                    None,
                    "Success",
                ):
                    st.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                st.executor_run_ms += m.get("Executor Run Time", 0)
                st.executor_cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.input += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st.output += m.get("Output Metrics", {}).get("Bytes Written", 0)
                for acc in info.get("Accumulables") or ():
                    if acc.get("ID") in py_rows:
                        st.python_rows += float(acc.get("Update") or 0)
                    elif acc.get("Name") in _PY_BYTES:
                        st.python_bytes += float(acc.get("Update") or 0)
    return stats


class StreamListener:
    """Collects every streaming trigger's progress (durationMs split and
    state-store size). Registered with ``spark.streams.addListener``."""

    def __init__(self) -> None:
        self.triggers: list[dict] = []
        self._lock = threading.Lock()

    def as_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "t_ms": time.time() * 1000.0,
                    "durationMs": dict(p.durationMs or {}),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
                with outer._lock:
                    outer.triggers.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()


def tracker_phases(qe) -> dict:
    """Seconds per phase (analysis, optimization, planning) recorded so
    far by a JVM ``QueryExecution``'s ``QueryPlanningTracker``, and the
    epoch-ms start of the first one as ``t_ms``."""
    rec = {"t_ms": None}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        summary = kv._2()
        rec[kv._1()] = summary.durationMs() / 1000.0
        start = summary.startTimeMs()
        rec["t_ms"] = start if rec["t_ms"] is None else min(rec["t_ms"], start)
    return rec


class PlanListener:
    """Catalyst phase times of every query execution, from each
    ``QueryExecution``'s ``QueryPlanningTracker``. A JVM
    ``QueryExecutionListener`` implemented over the py4j callback
    server; Spark calls it from its listener bus after each action."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        self._record(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._record(qe)

    def _record(self, qe) -> None:
        try:
            rec = tracker_phases(qe)
        except Exception as exc:  # a listener must never kill the listener bus
            rec = {"t_ms": time.time() * 1000.0, "error": repr(exc)}
        with self._lock:
            self.records.append(rec)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def register(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        spark._jsparkSession.listenerManager().register(self)

    def unregister(self, spark) -> None:
        spark._jsparkSession.listenerManager().unregister(self)
