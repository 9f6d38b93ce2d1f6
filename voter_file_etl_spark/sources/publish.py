"""Blue/green directory publish: the one place a staged directory
replaces a live one (load.ts:256-308 stages ``Voter{ST}Temp`` and
renames it over the live table in one transaction).

Every publisher (voter load, load manifest, streaming upsert sink,
l20, s13) writes a complete staged directory and swaps it in with
``promote``: Hadoop-FS renames, so file:// and hdfs:// share the code,
each result checked, because Hadoop's ``rename``/``delete`` report
failure by returning false. A live ``<parent>/<name>`` stages at
``<parent>/.staging_<name>_<id>`` and parks its previous version at
``<parent>/.retired_<name>_<id>``: hidden from Spark's listing, and
named per live dir, so recovering a manifest stored next to a
warehouse never touches a voter state's staging dir.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import uuid
from typing import Callable

from pyspark.sql import SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )


def _hpath(spark: SparkSession, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _split(live: str) -> tuple[str, str]:
    parent, name = os.path.split(live.rstrip("/"))
    return parent or ".", name


def _sibling(live: str, kind: str) -> str:
    parent, name = _split(live)
    return os.path.join(parent, f".{kind}_{name}_{uuid.uuid4().hex[:12]}")


def list_dir(spark: SparkSession, path: str) -> list[str]:
    """Sorted names of ``path``'s entries ([] when it does not exist)."""
    fs = _hadoop_fs(spark, path)
    if not fs.exists(_hpath(spark, path)):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(_hpath(spark, path)))


def promote(spark: SparkSession, staging: str, live: str) -> None:
    """Replace ``live`` with the fully written directory ``staging``.

    Creates a missing parent, parks live at a ``.retired_`` sibling,
    renames staging into place, verifies it, and only then deletes the
    parked copy. A rename that returns false rolls back (parked copy
    back to ``live``, staging dropped) and raises. An exception
    mid-promote (a crash) leaves both copies for ``recover``.
    """
    parent = _split(live)[0]
    retired = _sibling(live, "retired")
    fs = _hadoop_fs(spark, parent)
    new, cur, old, par = (_hpath(spark, p) for p in (staging, live, retired, parent))
    if not (fs.exists(par) or fs.mkdirs(par)):
        fs.delete(new, True)
        raise IOError(f"publish: could not create {parent}")
    parked = bool(fs.exists(cur))
    if parked and not fs.rename(cur, old):
        fs.delete(new, True)
        raise IOError(f"publish: could not park {live} at {retired}")
    if not (fs.rename(new, cur) and fs.exists(cur)):
        restored = not parked or fs.rename(old, cur)
        fs.delete(new, True)
        raise IOError(
            f"publish: could not promote {staging} to {live}"
            + ("" if restored else f"; previous version left at {retired}")
        )
    if parked and not fs.delete(old, True):
        raise IOError(f"publish: could not delete retired copy {retired}")


def publish_swap(
    spark: SparkSession,
    live: str,
    write: Callable[[str], object],
    gate: Callable[[str], bool] | None = None,
) -> bool:
    """Stage with ``write(staging)``, check ``gate(staging)``, then
    ``promote``; returns whether the new version went live. A raising
    write or gate drops staging and re-raises; a false gate drops it
    (checked) and returns False. Either way ``live`` is untouched.
    """
    staging = _sibling(live, "staging")
    fs = _hadoop_fs(spark, _split(live)[0])
    try:
        write(staging)
        ok = gate is None or gate(staging)
    except BaseException:
        # The write or gate error is the story; a failed cleanup must
        # not replace it.
        with contextlib.suppress(Exception):
            fs.delete(_hpath(spark, staging), True)
        raise
    if not ok:
        if not fs.delete(_hpath(spark, staging), True):
            raise IOError(f"publish: could not drop gated staging dir {staging}")
        return False
    promote(spark, staging, live)
    return True


def recover(live: str) -> None:
    """Clean up what crashed publishes left next to ``live`` (a local
    OS path). A crash between ``promote``'s renames leaves no live dir
    but an intact parked copy: restore the newest ``.retired_`` sibling
    (renames keep a dir's mtime, so newest = last committed). Every
    other ``.staging_``/``.retired_`` sibling of ``live`` is a dead
    orphan and is removed; other live dirs' siblings are untouched.
    Callers serialize against writers (the manifest holds ``_MF_LOCK``).
    """
    parent, name = _split(live)
    if not os.path.isdir(parent):
        return
    own = re.compile(rf"\.(?:staging|retired)_{re.escape(name)}_[0-9a-f]{{12}}")
    left = [os.path.join(parent, n) for n in os.listdir(parent) if own.fullmatch(n)]
    retired = [p for p in left if os.path.basename(p).startswith(".retired_")]
    if retired and not os.path.exists(os.path.join(parent, name)):
        os.rename(max(retired, key=os.path.getmtime), os.path.join(parent, name))
    for p in left:
        shutil.rmtree(p, ignore_errors=True)  # the restored one is gone already
