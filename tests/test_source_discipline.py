"""Source-level discipline gates.

VERDICT r13 #2: raw ``.localCheckpoint()`` call sites scattered across
operators bypassed the durable-checkpoint switch in session.py — an
executor loss at scale loses the blocks and fails the job even when
the operator *thought* it had opted into durability via
$SPARK_GRAFT_CHECKPOINT_DIR. The fix routes every materialization
through ``session.materialize`` (or ``iter_checkpoint`` for iterative
loops); these tests keep it that way. The same scan keeps every
directory swap inside ``sources/publish.py``.
"""

from __future__ import annotations

import io
import os
import re
import tokenize

import pytest
from pyspark.sql import functions as F

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "voter_file_etl_spark")


def _py_sources():
    for dirpath, _, files in os.walk(PKG):
        if "__pycache__" in dirpath:
            continue
        for name in files:
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


_RAW_LOCAL_CHECKPOINT = re.compile(r"\.\s*localCheckpoint\s*\(")
_RAW_RENAME = re.compile(r"(?:\bos\s*\.\s*(?:rename|replace)|fs\s*\.\s*rename)\s*\(")


def _raw_call_lines(source: str, pattern: re.Pattern) -> list[int]:
    """Line numbers of ``pattern`` matches in ``source`` outside
    comments. Comments are found with ``tokenize``, so a ``#`` inside a
    string literal does not hide the rest of its line."""
    lines = source.splitlines()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            (row, col) = tok.start
            lines[row - 1] = lines[row - 1][:col]
    return [i for i, line in enumerate(lines, 1) if pattern.search(line)]


def test_raw_local_checkpoint_scan_strips_only_comments():
    src = (
        'df = x.localCheckpoint()\n'
        'y = "#"; df = x.localCheckpoint()\n'
        '# df = x.localCheckpoint()\n'
        'df = x  # .localCheckpoint() in a comment\n'
        'df = x. localCheckpoint (eager=True)\n'
    )
    assert _raw_call_lines(src, _RAW_LOCAL_CHECKPOINT) == [1, 2, 5]
    renames = (
        'os.rename(a, b)\n'
        'y = "#"; fs.rename(a, b)\n'
        '# os.replace(a, b)\n'
        'os . replace (a, b)\n'
        'df.withColumnRenamed("a", "b")\n'
        'ok = self._fs.rename(p, q)\n'
        'x = chaos.rename(a)  # fs.rename(a, b)\n'
    )
    assert _raw_call_lines(renames, _RAW_RENAME) == [1, 2, 4, 6]


def test_no_raw_local_checkpoint_outside_session():
    # The only permitted localCheckpoint call sites are inside
    # session.py (the env-switch implementation itself). Everything
    # else must go through materialize()/iter_checkpoint so that
    # $SPARK_GRAFT_CHECKPOINT_DIR flips EVERY materialization to a
    # durable reliable checkpoint, not just the iterative loops.
    offenders = []
    for path in _py_sources():
        if os.path.basename(path) == "session.py":
            continue
        with open(path) as f:
            offenders += [
                f"{path}:{n}" for n in _raw_call_lines(f.read(), _RAW_LOCAL_CHECKPOINT)
            ]
    assert not offenders, (
        "raw localCheckpoint call sites bypass the durable-checkpoint "
        f"switch — route through session.materialize: {offenders}"
    )


def test_no_raw_rename_outside_publish():
    # A staged directory replaces a live one only through
    # sources/publish.py (checked Hadoop-FS renames, rollback, crash
    # recovery). A raw rename elsewhere is a hand-rolled swap: driver-
    # local only (os.*) or unchecked (a Hadoop rename returns false).
    offenders = []
    for path in _py_sources():
        if os.path.relpath(path, PKG) == os.path.join("sources", "publish.py"):
            continue
        with open(path) as f:
            offenders += [f"{path}:{n}" for n in _raw_call_lines(f.read(), _RAW_RENAME)]
    assert not offenders, (
        "raw rename call sites outside sources/publish.py — publish "
        f"through publish.publish_swap/promote: {offenders}"
    )


def test_materialize_honors_durable_checkpoint_env(spark, tmp_path, monkeypatch):
    # With $SPARK_GRAFT_CHECKPOINT_DIR set, materialize() must write
    # reliable-checkpoint data under the dir and the consumer plan
    # must scan the materialized rows (an RDD-scan leaf — the source
    # subtree is gone). Without it, nothing lands on the FS.
    from voter_file_etl_spark.session import CHECKPOINT_DIR_ENV, materialize

    src = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )

    monkeypatch.delenv(CHECKPOINT_DIR_ENV, raising=False)
    local = src.transform(materialize)
    assert local.count() == 100

    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(ckpt))
    durable = src.transform(materialize)
    assert durable.count() == 100
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "durable mode wrote nothing under the checkpoint dir"
    # Plan leaf: the materialized frame scans checkpoint blocks, not
    # the original range source.
    plan = durable._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "Range (0, 100" not in plan, plan[:2000]
