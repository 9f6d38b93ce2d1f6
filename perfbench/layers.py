"""The traced run: per-layer metrics for one workload.

The run restarts the session with an uncompressed, non-rolling event
log, registers the streaming and plan listeners, wraps the engine's
public functions (after ``registry.load_all`` has imported every
operator, replacing each ``from ... import`` binding too), and repeats
the ops the untraced measurement made (for ``voter_load``, the
redeliveries, as fresh files over the live warehouse). Every metric is a
mean per op unless its name says otherwise.

The tracing overhead compares the traced ops with the same ops run
untraced before them, each after its first execution in the JVM.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import MB, OpWindow, PlanListener, StreamListener, Tracer, parse_event_log, union_length

E = "voter_file_etl_spark"
MANIFEST_FNS = ("read_manifest", "record_files", "mark_loaded", "recorded_lines", "pending_files")

# module:function -> span name
TARGETS = {
    f"{E}.session:materialize": "session.materialize",
    f"{E}.session:iter_checkpoint": "session.iter_checkpoint",
    f"{E}.tables:t": "tables.t",
    f"{E}.operators.etl:run_load": "operators.etl.run_load",
    f"{E}.operators.etl:load_voter_file": "operators.etl.load_voter_file",
    f"{E}.operators.etl:enrich": "operators.etl.enrich",
    f"{E}.operators.etl:dedup_pk": "operators.etl.dedup_pk",
    f"{E}.operators.etl:read_voters": "operators.etl.read_voters",
    f"{E}.sources.tsv:read_tsv": "sources.tsv.read_tsv",
    **{f"{E}.sources.manifest:{fn}": f"sources.manifest.{fn}" for fn in MANIFEST_FNS},
}

PACKAGES = ("plans", "operators", "streaming")
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
EXEC_COUNTS = ("jobs", "build_jobs", "stages", "tasks", "failed_tasks")

# name -> unit, in output order; every traced run reports all of them.
UNITS: dict[str, str] = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "session.materialize.calls": "count",
    "session.materialize.s": "s",
    "session.iter_checkpoint.calls": "count",
    "session.iter_checkpoint.s": "s",
    "tables.t.calls": "count",
    "tables.t.s": "s",
    **{f"{p}.build_s": "s" for p in PACKAGES},
    **{f"{p}.action_s": "s" for p in PACKAGES},
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    **{f"exec.{c}": "count" for c in EXEC_COUNTS},
    "exec.driver_gap_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cpu_share": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.output_mb": "MB",
    "exec.python_rows": "rows",
    "exec.python_mb": "MB",
    "streaming.triggers": "count",
    "streaming.trigger_p50_s": "s",
    **{f"streaming.{ph}_s": "s" for ph in STREAM_PHASES},
    "streaming.state_rows": "rows",
    "streaming.state_memory_mb": "MB",
    "operators.etl.run_load.s": "s",
    "operators.etl.load_voter_file.calls": "count",
    "operators.etl.load_voter_file.s": "s",
    "sources.tsv.read_tsv.s": "s",
    "operators.etl.enrich.s": "s",
    "operators.etl.dedup_pk.s": "s",
    **{f"sources.manifest.{fn}.calls": "count" for fn in MANIFEST_FNS},
    **{f"sources.manifest.{fn}.s": "s" for fn in MANIFEST_FNS},
    "operators.etl.lane_overlap": "ratio",
    "operators.etl.rows_published_per_read": "ratio",
    "operators.etl.rows_delivered": "rows",
    "operators.etl.stored_bytes_per_input_byte": "ratio",
    "operators.etl.files_per_state": "count",
    "voter.read.s": "s",
    "trace.untraced_op_mean_s": "s",
    "trace.traced_op_mean_s": "s",
    "trace.overhead": "ratio",
}


def _event_log(ev_dir: str) -> str:
    (name,) = [n for n in os.listdir(ev_dir) if not n.startswith(".")]
    return os.path.join(ev_dir, name)


def _in_window(t_ms: float, windows: list[OpWindow]) -> bool:
    return any(w.start_ms <= t_ms <= w.end_ms for w in windows)


def layer_metrics(ops, windows, untraced_mean_s, tracer, plans, streams, exec_stats, setup):
    """Per-layer metric name -> (value, unit), in UNITS order."""
    n = len(ops)
    summ = tracer.summary()
    v: dict[str, float] = {
        "session.get_spark_s": setup["get_spark_s"],
        "registry.load_all_s": setup["load_all_s"],
    }

    def span(name: str, field: str) -> float:
        return summ.get(name, {}).get(field, 0.0) / n

    for name in ("session.materialize", "session.iter_checkpoint", "tables.t",
                 "operators.etl.load_voter_file",
                 *(f"sources.manifest.{fn}" for fn in MANIFEST_FNS)):
        v[f"{name}.calls"] = span(name, "calls")
        v[f"{name}.s"] = span(name, "self_s")
    for name in ("operators.etl.run_load", "sources.tsv.read_tsv", "operators.etl.enrich",
                 "operators.etl.dedup_pk", "voter.read"):
        v[f"{name}.s"] = span(name, "self_s")
    for p in PACKAGES:
        v[f"{p}.build_s"] = sum(
            agg["self_s"] for name, agg in summ.items()
            if name.startswith(f"build:{E}.{p}.")
        ) / n
        v[f"{p}.action_s"] = span(f"{p}.action", "s")

    # Phases of every action in an op's window, plus the eager analysis
    # of the DataFrame a registry key returns.
    recs = [r for r in plans if r.get("t_ms") and _in_window(r["t_ms"], windows)]
    recs += [o.extra["build_phases"] for o in ops if "build_phases" in o.extra]
    for phase in ("analysis", "optimization", "planning"):
        v[f"catalyst.{phase}_s"] = sum(r.get(phase, 0.0) for r in recs) / n

    st = list(exec_stats.values())
    for c in EXEC_COUNTS:
        v[f"exec.{c}"] = sum(getattr(s, c) for s in st) / n
    gaps = []
    for w, o in zip(windows, ops):
        s = exec_stats[w.index]
        clipped = [(max(a, w.start_ms), min(b, w.end_ms)) for a, b in s.job_intervals]
        gaps.append(o.seconds - union_length([c for c in clipped if c[1] > c[0]]) / 1000.0)
    run_s = sum(s.executor_run_ms for s in st) / 1000.0
    cpu_s = sum(s.executor_cpu_ns for s in st) / 1e9
    v.update({
        "exec.driver_gap_s": sum(gaps) / n,
        "exec.executor_run_s": run_s / n,
        "exec.executor_cpu_s": cpu_s / n,
        "exec.cpu_share": cpu_s / run_s if run_s else 0.0,
        "exec.gc_s": sum(s.gc_ms for s in st) / 1000.0 / n,
        "exec.shuffle_read_mb": sum(s.shuffle_read for s in st) / MB / n,
        "exec.shuffle_write_mb": sum(s.shuffle_write for s in st) / MB / n,
        "exec.spill_mb": sum(s.spill for s in st) / MB / n,
        "exec.input_mb": sum(s.input for s in st) / MB / n,
        "exec.output_mb": sum(s.output for s in st) / MB / n,
        "exec.python_rows": sum(s.python_rows for s in st) / n,
        "exec.python_mb": sum(s.python_bytes for s in st) / MB / n,
    })

    trig = [t for t in streams if _in_window(t["t_ms"], windows)]
    v["streaming.triggers"] = len(trig) / n
    v["streaming.trigger_p50_s"] = (
        statistics.median(t["durationMs"].get("triggerExecution", 0) for t in trig) / 1000.0
        if trig else 0.0
    )
    for ph in STREAM_PHASES:
        v[f"streaming.{ph}_s"] = sum(t["durationMs"].get(ph, 0) for t in trig) / 1000.0 / n
    v["streaming.state_rows"] = statistics.fmean(t["state_rows"] for t in trig) if trig else 0.0
    v["streaming.state_memory_mb"] = (
        statistics.fmean(t["state_bytes"] for t in trig) / MB if trig else 0.0
    )

    loads = [o for o in ops if o.kind in ("initial_load", "delivery") and o.ok]
    delivered = sum(o.extra["rows_delivered"] for o in loads)
    v["operators.etl.lane_overlap"] = tracer.mean_overlap("operators.etl.load_voter_file")
    v["operators.etl.rows_published_per_read"] = (
        sum(o.extra["rows_published"] for o in loads) / delivered if delivered else 0.0
    )
    v["operators.etl.rows_delivered"] = delivered / n
    v["operators.etl.stored_bytes_per_input_byte"] = (
        sum(o.extra["stored_bytes"] for o in loads) / sum(o.extra["input_bytes"] for o in loads)
        if loads else 0.0
    )
    v["operators.etl.files_per_state"] = (
        statistics.fmean(o.extra["files_per_state"] for o in loads) if loads else 0.0
    )

    traced = op_mean_s(ops)
    v["trace.untraced_op_mean_s"] = untraced_mean_s
    v["trace.traced_op_mean_s"] = traced
    v["trace.overhead"] = traced / untraced_mean_s - 1.0
    return {name: (v[name], unit) for name, unit in UNITS.items()}


def op_mean_s(ops) -> float:
    """Mean op seconds, leaving out ``voter_load``'s initial load."""
    return statistics.fmean(o.seconds for o in ops if o.kind != "initial_load")


def traced_run(session, workload, passes, setup, reference, run_dir, trace_file):
    """Repeat the measurement with tracing on; ``reference`` are the
    same ops run untraced before. (metrics, every op run here)."""
    ev_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(ev_dir)
    session.start(event_log_dir=ev_dir)
    spark = session.spark
    workload.warm_up(spark)
    tracer, plans, streams = Tracer(), PlanListener(), StreamListener()
    plans.register(spark)
    spark.streams.addListener(streams.as_listener())
    tracer.install(TARGETS)
    try:
        ops = workload.traced_passes(spark, passes, tracer)
    finally:
        tracer.uninstall()
    # Drain the listener bus so every plan and trigger record is in.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans.unregister(spark)
    session.stop()  # closes the event log
    windows = [OpWindow(i, o.start_ms, o.end_ms, o.build_end_ms) for i, o in enumerate(ops)]
    exec_stats = parse_event_log(_event_log(ev_dir), windows)
    metrics = layer_metrics(ops, windows, op_mean_s(reference), tracer, plans.records,
                            streams.triggers, exec_stats, setup)
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    with open(trace_file, "w") as f:
        json.dump(
            {
                "ops": [{"name": o.name, "seconds": o.seconds, "ok": o.ok} for o in ops],
                "spans": [vars(s) for s in tracer.spans],
                "by_span": tracer.summary(),
                "plans": plans.records,
                "triggers": streams.triggers,
                "metrics": {k: x for k, (x, _) in metrics.items()},
            },
            f,
        )
    return metrics, ops
