"""Tests of the benchmark itself: python -m pytest perfbench -q"""

from __future__ import annotations

import filecmp
import json
import os
import re

import pytest

import layers
import run
import stardata
import voters
from voters import PK
from spans import OpWindow, Span, Tracer, parse_event_log, self_times, union_length

NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def test_delivery_generator_is_deterministic_per_seed(tmp_path):
    dirs = [tmp_path / name for name in ("a", "b", "c")]
    for d in dirs:
        d.mkdir()
    got = [
        voters.make_delivery(str(d), seed, 1, ["CA", "WY"], 5_000, 10)
        for d, seed in zip(dirs, (7, 7, 8))
    ]
    assert sorted(os.listdir(dirs[0])) == sorted(os.listdir(dirs[1]))
    assert not filecmp.dircmp(dirs[0], dirs[1]).diff_files
    assert got[0] == got[1]
    assert filecmp.dircmp(dirs[0], dirs[2]).diff_files


def test_delivery_shape(tmp_path):
    import duckdb

    dv = voters.make_delivery(str(tmp_path), 3, 0, voters.STATES, 20_000, 1)
    assert [f.state for f in dv.files] == list(voters.STATES)
    assert "DEMOGRAPHIC" in dv.demographic and os.path.exists(tmp_path / dv.demographic)
    assert dv.files[0].lines - 1 > 0.35 * sum(f.lines - 1 for f in dv.files)
    expected = voters.Expected(duckdb.connect())
    for f in dv.files:
        path = tmp_path / f.filename
        assert sum(1 for _ in open(path)) == f.lines
        header = open(path).readline().rstrip("\n").split("\t")
        assert set(header) == set(voters.COLUMNS) | set(voters.UNKNOWN_COLUMNS)
        expected.replace(f.state, str(path))
    # duplicated keys are delivered, but one row per key survives
    counts = dict(expected.con.execute("SELECT state, count(*) FROM expected GROUP BY 1").fetchall())
    for f in dv.files:
        assert f.lines - 1 > counts[f.state] > 0.98 * (f.lines - 1)
    (est,) = expected.con.execute(
        f"SELECT count(*) FROM expected WHERE {voters.CITY} LIKE '%(EST.)'"
    ).fetchone()
    assert est == 0


def test_survivor_is_the_lowest_full_row(tmp_path):
    import duckdb

    header = list(voters.COLUMNS)
    base = {c: "1" for c in header}
    base["Voters_CalculatedRegDate"] = "01/02/2020"
    # NULL (empty) sorts first, so the row with the empty second field
    # wins over one that is lower further on; then 9 < 10 as integers.
    rows = [
        {**base, "Voters_Active": "A", "Voters_StateVoterID": "0"},
        {**base, "Voters_Active": "", "Voters_StateVoterID": "9"},
        {**base, PK: "K2", "Residence_Addresses_HouseNumber": "10"},
        {**base, PK: "K2", "Residence_Addresses_HouseNumber": "9"},
    ]
    path = tmp_path / "1--CA--2024-01-01.tab"
    path.write_text("\n".join("\t".join(r[c] for c in header) for r in [dict(zip(header, header))] + rows) + "\n")
    con = duckdb.connect()
    got = dict(
        con.execute(
            f'SELECT "{PK}", "Voters_Active" IS NULL AND "Voters_StateVoterID" = \'9\' '
            f'OR "Residence_Addresses_HouseNumber" = 9 FROM ({voters.survivors_sql(str(path))})'
        ).fetchall()
    )
    assert got == {"1": True, "K2": True}


def test_star_tables_are_deterministic_per_seed():
    a, b = stardata.tables(5), stardata.tables(5)
    assert set(a) == set(stardata.tables(6)) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(stardata.tables(6)["lineitem"])


def test_metric_names_are_well_formed():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names), names
    assert len(names) == len(set(names))
    assert [m["name"] for m in bench["per_layer"]] == list(layers.UNITS)
    ops = [run.workloads.Op("key", "k", 0.5 + i / 10) for i in range(30)]
    metrics, _ = run.end_to_end(ops, 2.0, 9.0, 1024)
    assert sorted(metrics) == sorted(m["name"] for m in bench["end_to_end"])


def test_self_time_on_a_hand_built_tree():
    # op [0, 10] -> build [1, 7] -> materialize [2, 4] and t [3, 5]
    #            -> action [7, 9]
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "build", 1.0, 7.0, parent=0),
        Span(2, "materialize", 2.0, 4.0, parent=1),
        Span(3, "t", 3.0, 5.0, parent=1),
        Span(4, "action", 7.0, 9.0, parent=0),
        Span(5, "iter_checkpoint", 2.5, 3.5, parent=2),
    ]
    got = self_times(spans)
    assert got == pytest.approx({0: 2.0, 1: 3.0, 2: 1.0, 3: 2.0, 4: 2.0, 5: 1.0})
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_tracer_parents_pool_threads_to_the_op_thread():
    import threading

    tr = Tracer()
    op = tr.begin("op", main=True)
    outer = tr.begin("run_load")

    def lane():
        tr.end(tr.begin("lane"))

    threads = [threading.Thread(target=lane) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    tr.end(outer)
    tr.end(op)
    lanes = [s for s in tr.spans if s.name == "lane"]
    assert len(lanes) == 3 and all(s.parent == outer.id for s in lanes)
    assert outer.parent == op.id


def test_tail_percentile_rule():
    assert run.tail([float(i) for i in range(1, 101)]) == (90.0, "p90 of 100")
    assert run.tail([float(i) for i in range(1, 31)]) == (20.0, "p66 of 30")
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")


def test_event_log_charges_jobs_to_op_windows(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 5000, "Stage IDs": [3]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 1600}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {
            "Event": "SparkListenerTaskEnd", "Stage ID": 1,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Failed": False, "Accumulables": []},
            "Task Metrics": {
                "Executor Run Time": 40, "Executor CPU Time": 10_000_000, "JVM GC Time": 5,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 3},
                "Input Metrics": {"Bytes Read": 7}, "Output Metrics": {"Bytes Written": 0},
            },
        },
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1900},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    got = parse_event_log(str(path), [OpWindow(0, 900, 2000, build_end_ms=1200)])
    st = got[0]
    assert (st.jobs, st.build_jobs, st.stages, st.tasks) == (2, 1, 1, 1)
    assert (st.executor_run_ms, st.executor_cpu_ns, st.gc_ms) == (40, 10_000_000, 5)
    assert (st.shuffle_read, st.shuffle_write, st.input) == (3, 3, 7)
    assert st.job_intervals == [(1600, 1900)]
