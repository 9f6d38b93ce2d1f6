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
filesystems) read and write through Spark instead.
"""

from __future__ import annotations

import itertools
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


def _local_path(path: str) -> str | None:
    """The OS path of a local-filesystem URI, None for any other FS."""
    if path.startswith("file://"):
        return path[7:]
    return None if "://" in path else path


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether a committed manifest is on disk (after undoing what a
    crashed promote left behind). Local manifests are checked with
    os calls: this runs on every manifest operation under
    ``_MF_LOCK``, and Hadoop-FS calls cost py4j round-trips there."""
    local = _local_path(path)
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
        local = _local_path(path)
        if local is None:
            return [tuple(r) for r in _utc_aware_rows(
                read_manifest(spark, path).collect(), manifest_struct()
            )]
        tbl = pq.read_table(local, columns=_COLUMNS)
    ts = tbl.column("updatedAt")
    micros = ts.cast(pa.timestamp("us", tz=ts.type.tz), safe=False).cast(pa.int64())
    return [
        (f, s, n, bool(loaded), _EPOCH + timedelta(microseconds=m))
        for f, s, n, loaded, m in zip(
            *(tbl.column(c).to_pylist() for c in _COLUMNS[:4]), micros.to_pylist()
        )
    ]


def _utc_aware_rows(rows, schema):
    """Convert naive TimestampType values to aware-UTC before
    createDataFrame.

    Row collection yields naive driver-OS-local wall time, and
    ``TimestampType.toInternal`` converts naive values with
    ``time.mktime(dt.timetuple())`` — which DROPS ``fold``, so during
    a DST fall-back ambiguous hour the second occurrence shifts by
    3600 s (ADVICE r7 #1). ``dt.astimezone(timezone.utc)`` honors
    fold, and toInternal handles aware values exactly (timegm of
    utctimetuple) — so every local-relation copy shares ``_ts_micros``
    semantics with the pyarrow fast path on ANY driver timezone.
    """
    from pyspark.sql import Row
    from pyspark.sql import types as T

    ts_idx = [
        i
        for i, f in enumerate(schema.fields)
        if isinstance(f.dataType, T.TimestampType)
    ]
    if not ts_idx:
        return rows
    names = [f.name for f in schema.fields]
    out = []
    for r in rows:
        vals = list(r)
        for i in ts_idx:
            v = vals[i]
            if v is not None and v.tzinfo is None:
                vals[i] = v.astimezone(timezone.utc)
        out.append(Row(**dict(zip(names, vals))))
    return out


def record_files(
    spark: SparkSession, path: str, files: list[tuple[str, str, int]]
) -> DataFrame:
    """Append manifest rows for (filename, state, line_count) triples,
    keeping the newest row per Filename (upsert-by-overwrite).

    Returns the manifest as written, as a local relation: no parquet
    files back it, so a later overwrite by a parallel lane cannot
    rename its data away between plan and collect."""
    now = datetime.now(tz=timezone.utc)
    with _MF_LOCK:
        merged = {r[0]: r for r in _read_rows(spark, path)}
        for f, s, n in files:
            old = merged.get(f)
            # The incoming record wins an updatedAt tie (two calls in
            # the same clock tick, e.g. frozen test clocks).
            if old is None or old[4] <= now:
                merged[f] = (f, s, int(n), False, now)
        rows = list(merged.values())
        _overwrite_small(spark, rows, manifest_struct(), path)
    return spark.createDataFrame(rows, manifest_struct())


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


def pending_files(
    spark: SparkSession,
    path: str,
    files: list[tuple],
    after_seq: int | None = None,
    limit: int | None = None,
) -> list[tuple]:
    """One page of the files still to load (load.ts:98-108).

    ``files`` are ``(seq, filename, ...)`` tuples in seq order; the page
    is the first ``limit`` of them past ``after_seq`` whose filename has
    no Loaded=true manifest row, in the same order."""
    loaded = {r[0] for r in _read_rows(spark, path) if r[3]}
    page = (
        f for f in files
        if (after_seq is None or f[0] > after_seq) and f[1] not in loaded
    )
    return list(itertools.islice(page, limit))


# Spark-type -> Arrow-type map for the driver-side fast write below.
# Timestamps are written as UTC-adjusted micros computed EXPLICITLY
# from each datetime (see _ts_micros) — never by trusting a naive
# wall time, which ``Row`` collection produces in the DRIVER OS
# timezone (datetime.fromtimestamp), not the Spark session zone.
def _arrow_type(dt):
    import pyarrow as pa

    from pyspark.sql import types as T

    return {
        T.StringType(): pa.string(),
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.BooleanType(): pa.bool_(),
        T.DoubleType(): pa.float64(),
        T.DateType(): pa.date32(),
        T.TimestampType(): pa.timestamp("us", tz="UTC"),
    }.get(dt)


def _overwrite_small(spark: SparkSession, rows: list, schema, path: str) -> None:
    # Replace the table at ``path`` with ``rows`` (tuples in ``schema``
    # order) through publish.publish_swap: a hidden staging dir,
    # promoted with checked FS renames. The manifest is the system of
    # record for Loaded flags — a bare overwrite deletes the live copy
    # before the writing job commits, so a failure there would lose
    # the entire load history.
    #
    # The write itself is a driver-side pyarrow file, not a Spark job:
    # this is a CONTROL-PLANE table of O(files) rows already on the
    # driver, and a single-row-group parquet write is ~10 ms where the
    # one-task Spark job (createDataFrame + repartition(1) + job
    # scheduling) measured ~0.5 s — paid once per loaded file, it was
    # the second-largest cost of the whole ETL loop (r6). Same pattern
    # as Delta's driver-written transaction log. Falls back to the
    # Spark writer for non-local warehouse URIs or exotic schemas.
    arrow_types = [_arrow_type(f.dataType) for f in schema.fields]
    if _local_path(path) is not None and all(t is not None for t in arrow_types):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql import types as T

        def _ts_micros(dt):
            # Aware values are exact. Naive ones are Row-collected
            # DRIVER-OS-local wall time (datetime.fromtimestamp sets
            # `fold`, and naive .timestamp() honors it), so this
            # recovers the exact internal epoch on ANY driver timezone
            # (incl. DST fall-back) — the same micros the Spark-writer
            # fallback would store, keeping the two paths
            # byte-identical (ADVICE r6 #1).
            if dt is None:
                return None
            return (
                int(dt.replace(microsecond=0).timestamp()) * 1_000_000
                + dt.microsecond
            )

        def _col(i, field, at):
            vals = [r[i] for r in rows]
            if isinstance(field.dataType, T.TimestampType):
                vals = [_ts_micros(v) for v in vals]
            return pa.array(vals, at)

        tbl = pa.table(
            {
                f.name: _col(i, f, t)
                for i, (f, t) in enumerate(zip(schema.fields, arrow_types))
            }
        )

        def write(staging: str) -> None:
            local = _local_path(staging)
            os.makedirs(local)
            pq.write_table(tbl, os.path.join(local, "part-00000.parquet"))
    else:
        # repartition(1), NOT coalesce(1): a coalesce directly over a
        # Python-built local relation (Arrow LocalTableScan) costs
        # ~5 s per write on Spark 4.1 where the repartition path takes
        # ~0.5 s (measured; parquet-scan-backed coalesce unaffected).
        def write(staging: str) -> None:
            spark.createDataFrame(
                _utc_aware_rows(rows, schema), schema
            ).repartition(1).write.parquet(staging)

    publish.publish_swap(spark, path, write)
