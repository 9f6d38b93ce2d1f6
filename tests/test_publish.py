"""The blue/green publish primitive (sources/publish.py) on its own:
the failure paths every publisher inherits."""

from __future__ import annotations

import hashlib
import os

import pytest

from voter_file_etl_spark.sources import publish


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_publish_swap_raising_gate_drops_staging_keeps_live(spark, tmp_path):
    # l20's read-back check: a gate that finds the persisted rows
    # disagreeing with the observed count raises. The exception must
    # reach the caller, the staged dir must be gone and the live dir
    # must be byte-identical.
    live = str(tmp_path / "table")
    spark.range(10).write.parquet(live)
    before = _tree_digest(live)

    def write(stage):
        spark.range(5).write.parquet(stage)

    def gate(stage):
        n_back = spark.read.parquet(stage).count()
        if n_back != 6:
            raise RuntimeError(f"persisted rows {n_back} != observed 6")
        return True

    with pytest.raises(RuntimeError, match="persisted rows 5 != observed 6"):
        publish.publish_swap(spark, live, write, gate=gate)
    assert _tree_digest(live) == before
    assert [n for n in os.listdir(tmp_path) if n != "table"] == []


def test_promote_creates_missing_parent(spark, tmp_path):
    stage = str(tmp_path / "stage")
    spark.range(4).write.parquet(stage)
    live = str(tmp_path / "a" / "b" / "table")
    publish.promote(spark, stage, live)
    assert spark.read.parquet(live).count() == 4
    assert not os.path.exists(stage)


def test_recover_touches_only_its_own_siblings(tmp_path):
    # A manifest stored next to a warehouse: recovering the manifest
    # restores its newest parked copy and sweeps its own leftovers, but
    # never a voter state's (or a same-prefix neighbour's) staging dir.
    ids = iter(f"{i:012x}" for i in range(1, 10))

    def mk(name):
        d = tmp_path / name
        d.mkdir()
        (d / "part-00000.parquet").write_text(name)
        return d

    old = mk(f".retired_manifest_{next(ids)}")
    newest = mk(f".retired_manifest_{next(ids)}")
    os.utime(old, (1, 1))
    mk(f".staging_manifest_{next(ids)}")
    others = {
        f".staging_state=TX_{next(ids)}",
        f".staging_manifest_2_{next(ids)}",
        f".retired_manifest_2_{next(ids)}",
        "state=TX",
    }
    for n in others:
        mk(n)

    publish.recover(str(tmp_path / "manifest"))
    assert (tmp_path / "manifest" / "part-00000.parquet").read_text() == newest.name
    assert set(os.listdir(tmp_path)) == others | {"manifest"}
