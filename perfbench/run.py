"""Benchmark entry point.

    python3 perfbench/run.py --workload <voter_load|query_mix|pipeline_tail>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one client, closed loop,
``local[<cores>]`` with every core the process may use. The last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones. A human-readable summary (sample
counts, tail percentile, error rate, voter load rows/s and read
latency, start load) is printed on the line before it.

Everything the run writes lives under ``.perfbench_work/`` in the
repository root; the generated star schema is kept there between runs,
the rest is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
STAR_SEED = 42  # the query workloads' tables; the run seed orders the keys
WORKLOADS = ("voter_load", "query_mix", "pipeline_tail")


def tail(values: list[float]) -> tuple[float, str]:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), and its label. Below 20 samples no percentile at or
    above the median qualifies, and the maximum is reported instead."""
    xs = sorted(values)
    n = len(xs)
    p = (100 * (n - 10)) // n if n > 10 else 0
    if p < 50:
        return xs[-1], f"max of {n}"
    rank = -(-p * n // 100)  # ceil
    return xs[rank - 1], f"p{p} of {n}"


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def host_load() -> dict:
    """Load average and steal share since boot, at run start."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    steal = cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else 0.0
    return {"load1": load1, "steal_share": round(steal, 4)}


def remove_stale_runs() -> None:
    """Delete the run directories of benchmark processes that died."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if name.startswith("run-") and name[4:].isdigit():
            if not os.path.exists(f"/proc/{name[4:]}"):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


class Session:
    """The engine's Spark session; the traced run restarts it in the
    same JVM to turn the event log on."""

    def __init__(self, run_dir: str, cores: int):
        self.run_dir = run_dir
        self.cores = cores
        self.spark = None

    def conf(self, event_log_dir: str | None) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self, event_log_dir: str | None = None) -> dict[str, float]:
        """Start the session, or restart it in the same JVM with the
        engine imported afresh; per-phase seconds."""
        restart = self.spark is not None
        self.stop()
        if restart:
            for name in [m for m in sys.modules if m.split(".")[0] == "voter_file_etl_spark"]:
                del sys.modules[name]
        t0 = time.perf_counter()
        from voter_file_etl_spark import registry
        from voter_file_etl_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=self.conf(event_log_dir))
        t1 = time.perf_counter()
        registry.load_all()
        t2 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()  # first action
        t3 = time.perf_counter()
        return {"get_spark_s": t1 - t0, "load_all_s": t2 - t1, "first_action_s": t3 - t2}

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(all_ops, setup_s, first_pass_s, peak_rss_kb) -> tuple[dict, dict]:
    ops = [o for o in all_ops if o.kind != "initial_load"]
    good = [o.seconds for o in ops if o.ok] or [o.seconds for o in ops]
    tail_v, tail_label = tail(good)
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (first_pass_s, "s"),
        "op_p50_s": (statistics.median(good), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(ops) / sum(o.seconds for o in ops), "1/s"),
    }
    info = {
        # Driver JVM plus Python; JVM heap growth follows GC timing, so
        # it is reported here rather than bounded.
        "peak_rss_mb": round(peak_rss_kb / 1024.0, 1),
        "ops": len(ops),
        "op_tail": tail_label,
        "op_s": [[o.name, round(o.seconds, 3)] for o in all_ops],
    }
    loads = [o for o in all_ops if o.kind in ("initial_load", "delivery") and o.ok]
    if loads:
        info["load_rows_per_s"] = sum(o.extra["rows_published"] for o in loads) / sum(
            o.extra["load_s"] for o in loads
        )
        info["run_load_p50_s"] = statistics.median(o.extra["load_s"] for o in loads)
        info["check_s"] = sum(o.extra["check_s"] for o in loads)
        reads = [r for o in loads for r in o.extra["read_s"]]
        info["read_p50_s"] = statistics.median(reads)
        info["reads"] = len(reads)
    return metrics, info


def make_workload(name: str, seed: int, run_dir: str, traced: bool):
    """The workload with its inputs."""
    if name == "voter_load":
        return workloads.VoterWorkload(run_dir, seed, traced)
    import stardata

    data_dir = stardata.ensure(os.path.join(WORK, "data"), STAR_SEED)
    if name == "query_mix":
        return workloads.QueryWorkload(workloads.QUERY_MIX, data_dir, seed, 25.0)
    return workloads.QueryWorkload(workloads.PIPELINE_TAIL, data_dir, seed, 25.0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "voter_file_etl_spark")):
        print(f"no voter_file_etl_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    load = host_load()
    cores = len(os.sched_getaffinity(0))

    remove_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Engine temp files, Spark scratch and Python workers stay in the
    # checkout; workers import the engine from it.
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Every JVM (the launcher and the driver): temp files in the run
    # directory, and no hsperfdata file under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "tests"), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    session = Session(run_dir, cores)
    workload = None
    try:
        # Set-up runs from process start (imports, JVM launch) to the end
        # of the warm-up; input generation is not part of it.
        t_gen = time.time()
        workload = make_workload(args.workload, args.seed, run_dir, bool(args.trace))
        gen_s = time.time() - t_gen
        phases = session.start()
        t_warm = time.perf_counter()
        workload.warm_up(session.spark)
        phases["warm_up_s"] = time.perf_counter() - t_warm
        setup_s = time.time() - T_PROCESS - gen_s

        spark = session.spark
        passes = max(1, round(args.seconds / workload.nominal_pass_s))
        first = workloads.measure(workload, spark, 1)
        workload.check_first_pass(first)
        ops = first + workloads.measure(workload, spark, passes - 1)
        attempted = ops
        if args.trace:
            import layers

            # The overhead reference: the same ops untraced, each after
            # its first execution in the JVM.
            reference = ops
            if workload.first_pass_cold:
                reference = workloads.measure(workload, spark, passes)
                attempted = attempted + reference
            trace_file = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            metrics, traced = layers.traced_run(
                session, workload, passes, phases, reference, run_dir, trace_file
            )
            attempted = attempted + traced
            info = {"passes": passes, "trace_file": trace_file}
        else:
            peak = vm_hwm_kb(session.jvm_pid()) + vm_hwm_kb("self")
            metrics, info = end_to_end(ops, setup_s, sum(o.seconds for o in first), peak)
            info["passes"] = passes
            info["setup_phases_s"] = {k: round(v, 3) for k, v in phases.items()}
        problems = workload.problems()
    finally:
        if workload is not None:
            workload.close()
        session.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for o in attempted if not o.ok)
    info.update(
        workload=args.workload, seed=args.seed, cores=cores, start_load=load,
        error_rate=failed / len(attempted), problems=problems[:20], input_gen_s=round(gen_s, 3),
    )
    print(json.dumps(info, default=float))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not problems,
                "attempted": len(attempted),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
