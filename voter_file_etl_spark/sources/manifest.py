"""Load-manifest bookkeeping (VoterFile table).

Reference: download.ts:86-92 inserts (Filename, State, Lines,
Loaded=false) after download; load.ts:98-108 skips files whose
manifest row has Loaded=true; load.ts:287-294 flips Loaded after the
atomic publish.

The manifest is a control-plane table of O(files) rows, so every
operation the load path makes on it is a driver-side read-modify-write
that submits no Spark job: the rows are read with pyarrow, merged,
flipped or looked up in Python, and written back through
``publish.publish_swap``: a hidden staging dir promoted with checked
Hadoop-FS renames, whose crash leftovers ``publish.recover`` cleans
up before each read. A Spark job here costs ~0.5 s of scheduling per
call and queues behind the data-plane jobs of parallel load lanes
while holding ``_MF_LOCK``; the pyarrow round-trip costs
milliseconds. Warehouse URIs the pyarrow path cannot reach (non-local
filesystems) read and write through Spark instead. Both paths hold
``updatedAt`` as aware UTC (``_utc``), so they store the same micros.
"""

from __future__ import annotations

import os
import threading
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

from voter_file_etl_spark.schema import manifest_struct
from voter_file_etl_spark.sources import publish

# Serializes manifest read-modify-write cycles when per-state loads
# run in parallel driver threads (etl.run_load). The lock only covers
# the tiny control-plane table ops — the heavy per-state load jobs
# stay fully concurrent. RLock: the public operations nest the shared
# row reader while holding it.
_MF_LOCK = threading.RLock()

_COLUMNS = [f.name for f in manifest_struct().fields]
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether a committed manifest is on disk (after undoing what a
    crashed promote left behind). Local manifests are checked with
    os calls: this runs on every manifest operation under
    ``_MF_LOCK``, and Hadoop-FS calls cost py4j round-trips there."""
    local = publish.local_path(path)
    if local is None:
        return bool(publish.list_dir(spark, path))
    publish.recover(local)
    return os.path.isdir(local) and any(n.endswith(".parquet") for n in os.listdir(local))


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The manifest as a DataFrame, for callers outside the load path.

    Declared schema, so the read fires no schema-inference job."""
    with _MF_LOCK:
        if _exists(spark, path):
            return spark.read.schema(manifest_struct()).parquet(path)
        return spark.createDataFrame([], manifest_struct())


def _utc(rows) -> list[tuple]:
    """``rows`` as (Filename, State, Lines, Loaded, updatedAt) tuples,
    updatedAt aware UTC.

    Row collection yields naive DRIVER-OS-local wall time, never UTC.
    ``astimezone`` reads a naive value as local time and honours its
    ``fold``, so both occurrences of a DST fall-back hour keep their
    exact instants (``time.mktime``, which Spark's naive-timestamp
    conversion uses, drops ``fold`` and shifts the second by 3600 s).
    pyarrow and Spark both store aware values exactly."""
    return [(f, s, n, loaded, ts.astimezone(timezone.utc)) for f, s, n, loaded, ts in rows]


def _read_rows(spark: SparkSession, path: str) -> list[tuple]:
    """The manifest's rows as (Filename, State, Lines, Loaded,
    updatedAt) tuples, updatedAt aware UTC.

    Local manifests (exactly where ``_overwrite_small`` writes with
    pyarrow) are read with pyarrow: no Spark job. That covers every
    file an earlier writer left, Spark part files included: pyarrow
    skips the ``_SUCCESS``/``.crc`` side files, and the INT96 or
    micros ``updatedAt`` both cast to epoch micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with _MF_LOCK:
        if not _exists(spark, path):
            return []
        local = publish.local_path(path)
        if local is None:
            return _utc(read_manifest(spark, path).collect())
        tbl = pq.read_table(local, columns=_COLUMNS)
    ts = tbl.column("updatedAt")
    micros = ts.cast(pa.timestamp("us", tz=ts.type.tz), safe=False).cast(pa.int64())
    return [
        (f, s, n, bool(loaded), _EPOCH + timedelta(microseconds=m))
        for f, s, n, loaded, m in zip(
            *(tbl.column(c).to_pylist() for c in _COLUMNS[:4]), micros.to_pylist()
        )
    ]


def record_files(spark: SparkSession, path: str, files: list[tuple[str, str, int]]) -> None:
    """Append manifest rows for (filename, state, line_count) triples,
    keeping the newest row per Filename (upsert-by-overwrite)."""
    now = datetime.now(tz=timezone.utc)
    with _MF_LOCK:
        merged = {r[0]: r for r in _read_rows(spark, path)}
        for f, s, n in files:
            old = merged.get(f)
            # The incoming record wins an updatedAt tie (two calls in
            # the same clock tick, e.g. frozen test clocks).
            if old is None or old[4] <= now:
                merged[f] = (f, s, int(n), False, now)
        _overwrite_small(spark, list(merged.values()), manifest_struct(), path)


def mark_loaded(spark: SparkSession, path: str, filename: str) -> None:
    """Loaded=true after publish (load.ts:287-294)."""
    with _MF_LOCK:
        rows = [
            (f, s, n, True, ts) if f == filename else (f, s, n, loaded, ts)
            for f, s, n, loaded, ts in _read_rows(spark, path)
        ]
        _overwrite_small(spark, rows, manifest_struct(), path)


def recorded_lines(spark: SparkSession, path: str, filename: str) -> int | None:
    """The manifest's Lines value for one file (None if unrecorded)."""
    rows = _read_rows(spark, path)
    return next((int(r[2]) for r in rows if r[0] == filename), None)


def pending_files(spark: SparkSession, path: str, files: list[tuple]) -> list[tuple]:
    """The files still to load (load.ts:98-108): the ``(seq, filename,
    ...)`` tuples of ``files`` whose filename has no Loaded=true
    manifest row, in the given order."""
    loaded = {r[0] for r in _read_rows(spark, path) if r[3]}
    return [f for f in files if f[1] not in loaded]


def _overwrite_small(spark: SparkSession, rows: list, schema, path: str) -> None:
    # Replace the manifest at ``path`` with ``rows`` (tuples in
    # ``schema`` order) through publish.publish_swap: a hidden staging
    # dir, promoted with checked FS renames. The manifest is the
    # system of record for Loaded flags — a bare overwrite deletes the
    # live copy before the writing job commits, so a failure there
    # would lose the entire load history.
    #
    # The write itself is a driver-side pyarrow file, not a Spark job:
    # this is a CONTROL-PLANE table of O(files) rows already on the
    # driver, and a single-row-group parquet write is ~10 ms where the
    # one-task Spark job (createDataFrame + repartition(1) + job
    # scheduling) measured ~0.5 s — paid once per loaded file, it was
    # the second-largest cost of the whole ETL loop (r6). Same pattern
    # as Delta's driver-written transaction log. Non-local warehouse
    # URIs take the Spark writer.
    rows = _utc(rows)
    if publish.local_path(path) is None:
        # repartition(1), NOT coalesce(1): a coalesce directly over a
        # Python-built local relation (Arrow LocalTableScan) costs
        # ~5 s per write on Spark 4.1 where the repartition path takes
        # ~0.5 s (measured; parquet-scan-backed coalesce unaffected).
        def write(staging: str) -> None:
            spark.createDataFrame(rows, schema).repartition(1).write.parquet(staging)
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        types = (pa.string(), pa.string(), pa.int64(), pa.bool_(), pa.timestamp("us", tz="UTC"))
        tbl = pa.table(
            {c: pa.array([r[i] for r in rows], t) for i, (c, t) in enumerate(zip(_COLUMNS, types))}
        )

        def write(staging: str) -> None:
            local = publish.local_path(staging)
            os.makedirs(local)
            pq.write_table(tbl, os.path.join(local, "part-00000.parquet"))

    publish.publish_swap(spark, path, write)
