"""The three workloads: what one op is, how a pass runs, and the checks.

Every workload is a closed loop with one client: the next op starts
when the previous one returns. A run is a number of whole passes, each
pass the same multiset of ops in a seed-shuffled order, so two seeds
time the same work and differ only in order and generated values.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import voters
from spans import NO_TRACE, tracker_phases

# Single-pass relational keys from plans/* (scan-agg, joins, windows,
# rollup/cube, set ops, SQL surface, scalars): no materialize while the
# DataFrame is built (only parquet schema reads), each about 0.2-1 s
# at sf0.1 on 4 cores.
QUERY_MIX = (
    "a4_groupby_count", "a5_household_agg", "j1_inner_join", "j2_left_join",
    "j12_full_outer_join", "w1_row_number", "w7_percent_rank_cume_dist", "a8_cube",
    "u2_intersect", "sql1_topk_revenue", "t8_regexp_funcs", "f1_geohash",
)

# The overhead-bound tail: eager iter_checkpoint rounds (g9) and
# materialized shared corpora (x39), a streaming query (st18) and a
# Python-worker crossing (m5). With an even number of keys the median op
# is the mean of the two middle keys, so two keys of similar speed
# trading places barely moves it.
PIPELINE_TAIL = (
    "g9_label_propagation", "x39_ann_recall", "st18_stream_topk", "m5_decode",
)

# voter_load: distinct voters in delivery 0 (every state), and the
# states the later deliveries replace, three at a time (50 % and 41 % of
# the rows). Every pass replaces the same sets; the seed orders them.
VOTER_ROWS = 235_000
VOTER_REPLACEMENTS = (("CA", "OH", "WY"), ("TX", "FL", "NY"))


@dataclass
class Op:
    kind: str  # "key", "initial_load" (voter delivery 0) or "delivery"
    name: str
    seconds: float
    ok: bool = True
    # epoch-ms window for the event log; build_end splits build from action
    start_ms: float = 0.0
    end_ms: float = 0.0
    build_end_ms: float | None = None
    extra: dict = field(default_factory=dict)


def package_of(fn) -> str:
    """plans / operators / streaming, from the key function's module."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 1 else parts[0]


class QueryWorkload:
    """One op = build one registry key's DataFrame, then force it
    through the noop sink.

    The first pass of a run executes every key for the first time in the
    JVM (plan compilation, code generation) and collects each result
    instead of discarding it. After it, outside every timed window, each
    result is compared with the key's DuckDB oracle by the project's
    oracle-gate rule. Passes after the first use the noop sink."""

    first_pass_cold = True

    def __init__(self, keys, data_dir: str, seed: int, nominal_pass_s: float):
        self.keys = list(keys)
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.checked: dict[str, str | None] = {}  # key -> problem or None
        # One pass (first executions included) at sf0.1 on 4 cores: sets
        # how many passes a run of a given length makes.
        self.nominal_pass_s = nominal_pass_s

    def warm_up(self, spark) -> None:
        """Pay once, in set-up, the costs every key would otherwise charge
        to whichever of them runs first in the JVM: the first parquet scan,
        join, shuffle, window and local checkpoint, and the start of the
        Python workers with pandas and Arrow loaded."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        orders = spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        customer = spark.read.parquet(os.path.join(self.data_dir, "customer.parquet"))
        (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment", "c_nationkey").count()
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("c_nationkey").orderBy(F.desc("count"))))
            .localCheckpoint(eager=True)
            .write.format("noop").mode("overwrite").save()
        )
        slots = spark.sparkContext.defaultParallelism
        (
            spark.range(0, 64 * slots, numPartitions=slots)
            .mapInPandas(lambda batches: batches, "id long")
            .write.format("noop").mode("overwrite").save()
        )

    @property
    def registry(self):
        # Looked up per call: a session restart re-imports the engine.
        from voter_file_etl_spark import registry

        return registry

    def pass_ops(self) -> list[str]:
        order = list(self.keys)
        self.rng.shuffle(order)
        return order

    def run_op(self, spark, key: str, tracer=NO_TRACE) -> Op:
        fn = self.registry.QUERIES[key]
        first = key not in self.results and key not in self.checked
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            with tracer.span("op", main=True):
                with tracer.span(f"build:{fn.__module__}"):
                    df = fn(spark, self.data_dir)
                build_end_ms = time.time() * 1000.0
                extra = {}
                if tracer is not NO_TRACE:
                    # Analysis runs eagerly while the DataFrame is built,
                    # outside any action the plan listener sees.
                    extra["build_phases"] = tracker_phases(df._jdf.queryExecution())
                with tracer.span(f"{package_of(fn)}.action"):
                    if first:
                        # The first execution fetches the result for the
                        # oracle check instead of discarding it.
                        self.results[key] = (list(df.columns), [tuple(r) for r in df.collect()])
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # one failed key must not end the run
            self.checked[key] = f"{key}: {type(exc).__name__}: {str(exc)[:300]}"
            return Op("key", key, time.perf_counter() - t0, ok=False)
        return Op(
            "key", key, time.perf_counter() - t0, ok=self.checked.get(key) is None,
            start_ms=start_ms, end_ms=time.time() * 1000.0, build_end_ms=build_end_ms,
            extra=extra,
        )

    def check_first_pass(self, ops: list[Op]) -> None:
        """Compare every collected result with its DuckDB oracle (sorted
        columns, sorted canonical rows, exact values) and fail the ops of
        every key that differs."""
        from oracle_harness import _duck_connection, _rowset

        con = _duck_connection(self.data_dir)
        try:
            for key, (cols, rows) in self.results.items():
                self.checked[key] = None
                try:
                    res = con.execute(self.registry.ORACLE[key])
                    want_cols = [d[0] for d in res.description]
                    want = res.fetchall()
                except Exception as exc:  # a check that cannot run is a failed check
                    self.checked[key] = f"{key}: oracle raised {type(exc).__name__}: {str(exc)[:300]}"
                    continue
                if sorted(cols) != sorted(want_cols):
                    self.checked[key] = f"{key}: columns spark={sorted(cols)} oracle={sorted(want_cols)}"
                elif len(rows) != len(want):
                    self.checked[key] = f"{key}: rows spark={len(rows)} oracle={len(want)}"
                elif _rowset(cols, rows) != _rowset(want_cols, want):
                    self.checked[key] = f"{key}: values differ ({len(rows)} rows)"
        finally:
            con.close()
        self.results.clear()
        for op in ops:
            op.ok = op.ok and self.checked.get(op.name) is None

    def traced_passes(self, spark, passes: int, tracer) -> list[Op]:
        return measure(self, spark, passes, tracer)

    def problems(self) -> list[str]:
        return [p for p in self.checked.values() if p]

    def close(self) -> None:
        pass


class VoterWorkload:
    """One op = one delivery: record its files' true line counts in the
    manifest, ``run_load``, then two analyst reads of the warehouse the
    load wrote (state x party counts, and a county/zip filter). A pass
    starts from an empty warehouse: delivery 0 loads every state, later
    deliveries replace three states over live data. Every delivery is
    checked after it returns, outside the timed window.

    Delivery 0, the initial load, also pays the JVM's first execution of
    the load path: it counts in ``first_pass_s`` only, and the op metrics
    cover the redeliveries."""

    first_pass_cold = False
    nominal_pass_s = 60.0

    def __init__(self, work_dir: str, seed: int, traced: bool = False):
        self.work_dir = work_dir
        self.deliveries: list[voters.Delivery] = []
        self.source_dirs: list[str] = []
        replacements = list(VOTER_REPLACEMENTS)
        random.Random(seed).shuffle(replacements)
        # A pass is delivery 0 and the redeliveries; a traced run adds the
        # redeliveries again, as fresh files (see traced_passes).
        self.chain = 1 + len(replacements)
        seq = 1
        for i, states in enumerate([voters.STATES, *replacements, *(replacements if traced else [])]):
            d = os.path.join(work_dir, "deliveries", str(i))
            os.makedirs(d)
            dv = voters.make_delivery(d, seed, i, states, VOTER_ROWS, seq)
            seq += len(dv.files) + 1
            self.deliveries.append(dv)
            self.source_dirs.append(d)
        self.pass_no = 0
        self.problem_list: list[str] = []
        self._duck = None

    def _duckdb(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
        return self._duck

    def _deliver(self, src_dir: str, files_dir: str) -> None:
        for name in os.listdir(src_dir):
            shutil.copyfile(os.path.join(src_dir, name), os.path.join(files_dir, name))

    def _new_pass_dirs(self):
        base = os.path.join(self.work_dir, f"pass{self.pass_no}")
        self.pass_no += 1
        files = os.path.join(base, "files")
        os.makedirs(files)
        return base, files, os.path.join(base, "warehouse"), os.path.join(base, "manifest")

    def pass_ops(self) -> list[int]:
        return list(range(self.chain))

    def start_pass(self) -> None:
        if self.pass_no:
            shutil.rmtree(self.base, ignore_errors=True)
        self.base, self.files, self.wh, self.mfp = self._new_pass_dirs()
        self.expected = voters.Expected(self._duckdb())
        self.live_files: dict[str, str] = {}  # state -> file its live rows came from

    def traced_passes(self, spark, passes: int, tracer) -> list[Op]:
        """The redeliveries once more, as fresh files over the warehouse
        the last pass left live: the same ops the untraced pass timed
        after its initial load, without repeating the initial load."""
        ops = []
        for index in range(self.chain, len(self.deliveries)):
            tracer.op = len(ops)
            ops.append(self.run_op(spark, index, tracer))
        return ops

    def warm_up(self, spark) -> None:
        """Nothing: delivery 0, outside the op metrics, warms the load path."""

    def check_first_pass(self, ops: list[Op]) -> None:
        """Nothing: every delivery is checked when it returns."""

    def run_op(self, spark, index: int, tracer=NO_TRACE) -> Op:
        from pyspark.sql import functions as F

        from voter_file_etl_spark.operators import etl
        from voter_file_etl_spark.sources import manifest as mf

        dv = self.deliveries[index]
        self._deliver(self.source_dirs[index], self.files)
        name = f"delivery{index}"
        kind = "initial_load" if index == 0 else "delivery"
        county = f"{dv.files[0].state} County 3"
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            with tracer.span("op", main=True):
                mf.record_files(spark, self.mfp, [(f.filename, f.state, f.lines) for f in dv.files])
                t_load = time.perf_counter()
                results = etl.run_load(spark, self.files, self.wh, self.mfp)
                t_read = time.perf_counter()
                with tracer.span("voter.read"):
                    by_party = (
                        etl.read_voters(spark, self.wh)
                        .groupBy("state", voters.PARTY).count().collect()
                    )
                t_read2 = time.perf_counter()
                with tracer.span("voter.read"):
                    filtered = (
                        etl.read_voters(spark, self.wh)
                        .filter(
                            (F.col("County") == county)
                            & F.col(voters.ZIP).startswith("1")
                        )
                        .select(voters.PK)
                        .collect()
                    )
        except Exception as exc:
            self.problem_list.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return Op(kind, name, time.perf_counter() - t0, ok=False)
        t_end = time.perf_counter()
        op = Op(
            kind, name, t_end - t0, start_ms=start_ms, end_ms=time.time() * 1000.0,
            extra={
                "load_s": t_read - t_load,
                "read_s": [t_read2 - t_read, t_end - t_read2],
                "rows_published": sum(r.rows_published for r in results),
                "rows_delivered": sum(f.lines - 1 for f in dv.files),
            },
        )
        t_check = time.perf_counter()
        for f in dv.files:
            self.expected.replace(f.state, os.path.join(self.files, f.filename))
            self.live_files[f.state] = f.filename
        problems = self.check(dv, results, by_party, filtered, county)
        op.extra.update(self.layout(), check_s=time.perf_counter() - t_check)
        if problems:
            self.problem_list.extend(f"{name}: {p}" for p in problems)
            op.ok = False
        return op

    def check(self, dv, results, by_party, filtered, county) -> list[str]:
        from voter_file_etl_spark.functions.geohash import geohash_sql

        problems = voters.check_load(dv, results)
        problems += voters.check_warehouse(
            self._duckdb(), self.wh, lambda lat, lon: geohash_sql(lat, lon, 8, "duckdb")
        )
        got = {(r["state"], r[voters.PARTY]): r["count"] for r in by_party}
        if got != self.expected.party_counts():
            problems.append("state x party read differs from the delivered rows")
        if sorted(r[voters.PK] for r in filtered) != self.expected.county_zip_keys(county, "1"):
            problems.append(f"county/zip read differs from the delivered rows ({county})")
        return problems

    def layout(self) -> dict:
        """Stored parquet bytes and files of the live warehouse, against
        the TSV bytes of the files it was loaded from."""
        stored = files = 0
        for state in self.live_files:
            d = os.path.join(self.wh, f"state={state}")
            parts = [n for n in os.listdir(d) if n.endswith(".parquet")]
            files += len(parts)
            stored += sum(os.path.getsize(os.path.join(d, n)) for n in parts)
        src = sum(os.path.getsize(os.path.join(self.files, f)) for f in self.live_files.values())
        return {
            "stored_bytes": stored,
            "input_bytes": src,
            "files_per_state": files / max(1, len(self.live_files)),
        }

    def problems(self) -> list[str]:
        return list(self.problem_list)

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


def measure(workload, spark, passes: int, tracer=NO_TRACE) -> list[Op]:
    """``passes`` whole passes, back to back."""
    ops = []
    for _ in range(passes):
        if hasattr(workload, "start_pass"):
            workload.start_pass()
        for item in workload.pass_ops():
            tracer.op = len(ops)
            ops.append(workload.run_op(spark, item, tracer))
    return ops
