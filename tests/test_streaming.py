"""Streaming parity: the AvailableNow file-stream tumbling-window
aggregate must equal the batch plan over the same events."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from voter_file_etl_spark import registry
from voter_file_etl_spark.streaming.windows import run_tumbling_stream, st1_tumbling_window
from voter_file_etl_spark.tables import t


def test_stream_matches_batch(spark, sf_dir, tmp_path):
    batch = {
        tuple(r)
        for r in st1_tumbling_window(spark, sf_dir).collect()
    }
    streamed = {
        tuple(r)
        for r in run_tumbling_stream(spark, sf_dir, str(tmp_path / "ckpt")).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    from voter_file_etl_spark.streaming.windows import (
        run_enrich_stream,
        st5_stream_static_join,
    )

    batch = {tuple(r) for r in st5_stream_static_join(spark, sf_dir).collect()}
    streamed = {
        tuple(r)
        for r in run_enrich_stream(spark, sf_dir, str(tmp_path / "ckpt5")).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stateful_dedup_stream_is_deterministic(spark, sf_dir, tmp_path):
    from voter_file_etl_spark.streaming.stateful import run_dedup_stream

    a = {tuple(r) for r in run_dedup_stream(spark, sf_dir, str(tmp_path / "c1")).collect()}
    b = {tuple(r) for r in run_dedup_stream(spark, sf_dir, str(tmp_path / "c2")).collect()}
    assert a == b
    assert len(a) > 0


def test_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    from voter_file_etl_spark.streaming.joins import (
        run_interval_join_stream,
        st6_interval_join,
    )

    batch = {tuple(r) for r in st6_interval_join(spark, sf_dir).collect()}
    streamed = {
        tuple(r)
        for r in run_interval_join_stream(spark, sf_dir, str(tmp_path / "ckpt6")).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_upsert_sink_merges_multiple_batches(spark, sf_dir, tmp_path):
    """foreachBatch upsert: the stream must actually split into
    several micro-batches (one staged merge per batch) and the final
    snapshot must equal the batch argmax."""
    import os

    from pyspark.sql import functions as F

    from voter_file_etl_spark.streaming.sinks import _N_SRC_FILES, run_upsert_stream
    from voter_file_etl_spark.tables import t

    work = str(tmp_path / "upsert")
    final = run_upsert_stream(spark, sf_dir, work)

    stages = [d for d in os.listdir(work) if d.startswith("stage_b")]
    assert len(stages) == _N_SRC_FILES  # one merge per source file

    from pyspark.sql import Window as W

    win = W.partitionBy("user_id", "event_type").orderBy(
        F.desc(F.unix_micros("ts")), F.desc("event_id")
    )
    batch = (
        t(spark, sf_dir, "events")
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("last_us"),
            F.col("value").alias("last_value"),
            F.col("event_id").alias("last_event_id"),
        )
    )
    assert {tuple(r) for r in final.collect()} == {tuple(r) for r in batch.collect()}


def test_upsert_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """The bucket-partitioned merge must leave buckets whose keys are
    absent from a batch byte-identical on disk (VERDICT r2 #5): the
    O(touched)-not-O(table) claim, asserted at the file level."""
    import glob
    import hashlib
    import os

    from pyspark.sql import functions as F

    from voter_file_etl_spark.streaming.sinks import _N_BUCKETS, upsert_merge_batch

    work = str(tmp_path / "bucketed")
    snap = os.path.join(work, "snapshot")
    os.makedirs(work)

    cols = ["event_id", "us", "user_id", "event_type", "value"]
    base = spark.createDataFrame(
        [(i, 1000 + i, i, "click", float(i)) for i in range(200)], cols
    )
    upsert_merge_batch(spark, snap, work, base, 0)

    def file_hashes():
        out = {}
        for p in glob.glob(os.path.join(snap, "_bucket=*", "*.parquet")):
            with open(p, "rb") as fh:
                out[os.path.relpath(p, snap)] = hashlib.sha256(fh.read()).hexdigest()
        return out

    before = file_hashes()
    buckets_before = {os.path.dirname(p) for p in before}
    assert len(buckets_before) > 2  # keys actually spread over buckets

    # Batch 2: a single key -> exactly one touched bucket.
    batch = spark.createDataFrame([(9001, 9999, 7, "click", 99.0)], cols)
    touched_bucket = spark.createDataFrame([(7, "click")], ["user_id", "event_type"]) \
        .select(F.pmod(F.xxhash64("user_id", "event_type"), F.lit(_N_BUCKETS))
                .cast("int").alias("b")).collect()[0]["b"]
    upsert_merge_batch(spark, snap, work, batch, 1)

    after = file_hashes()
    untouched = {p for p in before if os.path.dirname(p) != f"_bucket={touched_bucket}"}
    assert untouched  # the scenario really has untouched buckets
    for p in untouched:
        assert p in after and after[p] == before[p], f"untouched bucket rewritten: {p}"

    # The touched key must reflect last-writer-wins.
    row = (
        spark.read.parquet(snap)
        .filter((F.col("user_id") == 7) & (F.col("event_type") == "click"))
        .collect()
    )
    assert len(row) == 1 and row[0]["event_id"] == 9001 and row[0]["us"] == 9999


class _PromoteFailsFS:
    """A Hadoop FS whose staged-bucket promote renames (stage -> live)
    report failure the way Hadoop does: by returning false."""

    def __init__(self, real):
        self._real = real

    def __getattr__(self, name):
        return getattr(self._real, name)

    def rename(self, src, dst):
        if "/stage_b" in src.toString():
            return False
        return self._real.rename(src, dst)


def test_upsert_sink_rename_false_keeps_bucket(spark, tmp_path, monkeypatch):
    """A bucket promote whose rename returns false must raise and leave
    every bucket serving its pre-batch rows: the parked live bucket is
    renamed back, never deleted as if the promote had worked."""
    import os

    from voter_file_etl_spark.sources import publish
    from voter_file_etl_spark.streaming.sinks import upsert_merge_batch

    work = str(tmp_path / "bucketed")
    snap = os.path.join(work, "snapshot")
    os.makedirs(work)
    cols = ["event_id", "us", "user_id", "event_type", "value"]
    base = spark.createDataFrame(
        [(i, 1000 + i, i, "click", float(i)) for i in range(200)], cols
    )
    upsert_merge_batch(spark, snap, work, base, 0)
    before = sorted(tuple(r) for r in spark.read.parquet(snap).collect())
    assert len(before) == 200

    real_fs = publish._hadoop_fs
    monkeypatch.setattr(
        publish, "_hadoop_fs", lambda sp, p: _PromoteFailsFS(real_fs(sp, p))
    )
    batch = spark.createDataFrame([(9001, 9999, 7, "click", 99.0)], cols)
    with pytest.raises(IOError, match="could not promote"):
        upsert_merge_batch(spark, snap, work, batch, 1)
    monkeypatch.undo()

    after = sorted(tuple(r) for r in spark.read.parquet(snap).collect())
    assert after == before


def test_transform_with_state_gated_on_protobuf(spark, sf_dir):
    # st15 prefers Spark 4's transformWithStateInPandas (whose
    # driver<->worker protocol needs google.protobuf) and falls back
    # to an applyInPandasWithState twin without it, so it registers
    # everywhere and must match the batch aggregate in BOTH modes.
    from voter_file_etl_spark.streaming import stateful

    assert "st15_transform_with_state" in registry.QUERIES
    got = {
        (r["user_id"], r["event_type"]): (r["n_events"], r["sum_cents"])
        for r in stateful.st15_transform_with_state(spark, sf_dir).collect()
    }
    exp = {
        (r["user_id"], r["event_type"]): (r["n"], r["sc"])
        for r in t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("cast(floor(value * 100 + 0.5d) as bigint)")).alias("sc"),
        )
        .collect()
    }
    assert got == exp


def test_distinct_users_stream_matches_batch(spark, sf_dir, tmp_path):
    from voter_file_etl_spark.streaming.windows import (
        run_distinct_stream,
        st16_stream_distinct_users,
    )

    # The stream emits (window_start, n_users) — n_events needs
    # pre-dedup rows and rides the batch plan only.
    batch = {
        (r["window_start"], r["n_users"])
        for r in st16_stream_distinct_users(spark, sf_dir).collect()
    }
    streamed = {
        tuple(r)
        for r in run_distinct_stream(
            spark, sf_dir, str(tmp_path / "ckpt_st16")
        ).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_cusum_state_carries_across_batches(spark, sf_dir):
    # st17: the recurrence must genuinely span micro-batches — every
    # key emits once per batch with a strictly growing processed-row
    # index, and the final index equals the key's full series length
    # (nothing reprocessed, nothing dropped).
    from voter_file_etl_spark.streaming import stateful as st

    st.st17_stream_cusum(spark, sf_dir).collect()
    emissions = (
        spark.table("st17_stream_out")
        .select("event_type", "idx", "n_days")
        .collect()
    )
    by_key: dict = {}
    for r in emissions:
        by_key.setdefault(r["event_type"], []).append(r["idx"])
    for etype, idxs in by_key.items():
        assert len(idxs) >= 2, f"{etype}: state never crossed a batch"
        s = sorted(idxs)
        assert s == sorted(set(s)) and s[-1] > s[0], (etype, idxs)
    n_days = {r["event_type"]: r["n_days"] for r in emissions}
    final = {k: max(v) for k, v in by_key.items()}
    assert final == n_days, (final, n_days)


def test_stateful_dedup_recovers_state_across_query_restarts(spark, sf_dir, tmp_path):
    """Checkpoint recovery — the exactly-once story at scale: a stream
    is stopped after draining batch A, a NEW query starts on the SAME
    checkpoint after file B lands, and the combined output must equal
    the batch aggregate over A+B. Three failure modes are each caught
    by a distinct assertion:

    - state lost across restarts -> n_seen for keys spanning both
      files counts only B (sum mismatch);
    - file A REPROCESSED by the restarted query (offset log ignored)
      -> those keys double-count A (sum mismatch) AND A-only keys
      (even user_id) re-emit in query 2 (emission-set assertion);
    - update-mode emission leak -> A-only keys appear in query 2's
      sink despite no new rows (emission-set assertion).
    """
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from voter_file_etl_spark.streaming.stateful import _dedup_state
    from voter_file_etl_spark.tables import (
        ensure_session_confs,
        stream_parallelism,
        t,
    )

    ensure_session_confs(spark)
    rows = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
        .collect()
    )
    half = {0: [], 1: []}
    for r in rows:
        half[r["user_id"] % 2].append((r["user_id"], r["event_type"], r["us"]))
    assert half[0] and half[1]

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def _write(name, data):
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([d[0] for d in data], pa.int64()),
                    "event_type": pa.array([d[1] for d in data], pa.string()),
                    "us": pa.array([d[2] for d in data], pa.int64()),
                }
            ),
            str(src / name),
        )

    def _run_query(qname):
        # foreachBatch, not memory: the memory sink refuses to START
        # from an existing checkpoint ("does not support recovering"),
        # and sink recoverability is exactly what this test is about.
        stream = spark.readStream.schema(
            "user_id long, event_type string, us long"
        ).parquet(str(src))
        deduped = stream.groupBy("user_id", "event_type").applyInPandasWithState(
            _dedup_state,
            "user_id long, event_type string, first_us long, n_seen long",
            "first_us long, n_seen long",
            "update",
            __import__(
                "pyspark.sql.streaming.state", fromlist=["GroupStateTimeout"]
            ).GroupStateTimeout.NoTimeout,
        )
        emitted: list = []

        def _sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        with stream_parallelism(spark):
            q = (
                deduped.writeStream.outputMode("update")
                .foreachBatch(_sink)
                .queryName(qname)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return emitted

    # Run 1: only file A (even user_ids) exists; query drains and stops.
    _write("a.parquet", half[0])
    out1 = _run_query("st_recovery_run1")
    assert len(out1) > 0

    # File B lands AFTER the first query terminated; a brand-new query
    # resumes from the same checkpoint (offset log + state store).
    _write("b.parquet", half[1])
    out2 = _run_query("st_recovery_run2")

    # A-only keys (even users) must NOT re-emit: file A is committed
    # in the offset log and its keys saw no new rows.
    assert all(r["user_id"] % 2 == 1 for r in out2), (
        "restarted query re-emitted keys from the already-committed file"
    )

    # Combined final state equals the batch aggregate over A+B.
    final = {}
    for r in list(out1) + list(out2):
        k = (r["user_id"], r["event_type"])
        prev = final.get(k)
        if prev is None or r["n_seen"] > prev[1]:
            final[k] = (r["first_us"], r["n_seen"])
    expect = {}
    for u, e, us in half[0] + half[1]:
        f, n = expect.get((u, e), (us, 0))
        expect[(u, e)] = (min(f, us), n + 1)
    assert final == expect
    shutil.rmtree(str(src), ignore_errors=True)
    assert os.path.isdir(ckpt)
