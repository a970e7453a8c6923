"""The table decides when to checkpoint: ``delta/writer.py:commit``
writes a classic checkpoint after every published commit at a version
``v > 0`` with ``v % delta.checkpointInterval == 0`` (default 10),
whichever verb made the commit. No call takes a cadence argument."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import levi_spark.delta.checkpoint as checkpoint_mod
from levi_spark.delta.constraints import add_check_constraint, set_table_properties
from levi_spark.delta.dv import purge_deleted, soft_delete
from levi_spark.delta.evolve import widen_column
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.restore import restore
from levi_spark.delta.writer import write_delta

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _checkpoints(p) -> list[int]:
    log_dir = os.path.join(p, "_delta_log")
    return sorted(int(n[:20]) for n in os.listdir(log_dir) if ".checkpoint." in n)


def _table_at(spark, p, version: int, rows: int = 40) -> None:
    """A table whose latest version is ``version``: v0 creates ``rows``
    rows (int column ``k`` over four files), the rest are
    metadata-only property commits, which start no Spark job."""
    write_delta(
        spark.range(0, rows, 1, 4).select("id", F.col("id").cast("int").alias("k")),
        p, mode="error",
    )
    for i in range(1, version + 1):
        set_table_properties(spark, p, {"test.step": str(i)})
    assert DeltaLog(spark, p).latest_version() == version


def _restore(spark, p):
    return restore(spark, p, 0)


def _purge(spark, p):
    return purge_deleted(spark, p)


def _property(spark, p):
    return set_table_properties(spark, p, {"test.last": "x"})


def _constraint(spark, p):
    return add_check_constraint(spark, p, "k_nonneg", "k >= 0")


def _widen(spark, p):
    return widen_column(spark, p, "k", "long")


VERBS = {
    "restore": _restore,
    "purge_deleted": _purge,
    "set_table_properties": _property,
    "add_check_constraint": _constraint,
    "widen_column": _widen,
}


@pytest.mark.parametrize("verb", sorted(VERBS))
def test_verb_landing_on_v10_checkpoints(spark, tmp_path, verb):
    p = str(tmp_path / "t")
    _table_at(spark, p, 8)
    # v9 changes data: DVs to purge, a state for restore to undo
    soft_delete(spark, p, "id % 4 = 0")
    VERBS[verb](spark, p)
    assert DeltaLog(spark, p).latest_version() == 10
    assert _checkpoints(p) == [10]
    assert DeltaLog(spark, p).snapshot().version == 10


@pytest.mark.parametrize("bad", ["0", "-1", "x"])
def test_set_table_properties_rejects_bad_interval(spark, tmp_path, bad):
    p = str(tmp_path / "t")
    _table_at(spark, p, 0)
    with pytest.raises(ValueError, match="delta.checkpointInterval"):
        set_table_properties(spark, p, {"delta.checkpointInterval": bad})
    # nothing was published
    assert DeltaLog(spark, p).latest_version() == 0


def test_staged_commits_never_checkpoint(spark, tmp_path):
    """A coordinated table's commits after v0 are staged; even with an
    interval of 1 none of them checkpoints."""
    p = str(tmp_path / "t")
    write_delta(spark.range(4), p, mode="error", coordinated=True)
    set_table_properties(spark, p, {"delta.checkpointInterval": "1"})
    write_delta(spark.range(4, 8), p, mode="append")
    assert DeltaLog(spark, p).latest_version() == 2
    assert _checkpoints(p) == []


def test_v2_upgrade_commit_does_not_auto_checkpoint(spark, tmp_path):
    """The protocol upgrade inside ``write_checkpoint(format="v2")``
    lands on v10 here; the only checkpoint at v10 is the v2 one."""
    p = str(tmp_path / "t")
    _table_at(spark, p, 9)
    assert checkpoint_mod.write_checkpoint(spark, p, format="v2") == 10
    log_dir = os.path.join(p, "_delta_log")
    assert not os.path.exists(os.path.join(log_dir, f"{10:020d}.checkpoint.parquet"))
    assert len(glob.glob(os.path.join(log_dir, f"{10:020d}.checkpoint.*.json"))) == 1


def test_checkpoint_error_keeps_committed_dv_files(spark, tmp_path, monkeypatch):
    """A checkpoint that fails after ``soft_delete`` published v10
    surfaces, but the committed version keeps its deletion-vector files:
    the deleted rows stay deleted on read. (The cleanup of a commit
    that lost its race must not catch the checkpoint's ValueError.)"""
    p = str(tmp_path / "t")
    _table_at(spark, p, 9, rows=4000)  # enough rows for 'u' DV files

    def boom(*args, **kwargs):
        raise ValueError("checkpoint failed")

    monkeypatch.setattr(checkpoint_mod, "write_checkpoint", boom)
    with pytest.raises(ValueError, match="checkpoint failed"):
        soft_delete(spark, p, "id % 2 = 0")
    monkeypatch.undo()
    snap = DeltaLog(spark, p).snapshot()
    assert snap.version == 10
    dv_files = [n for n in os.listdir(p) if n.startswith("deletion_vector_")]
    assert dv_files
    back = snap.to_df()
    assert back.count() == 2000
    assert back.where("id % 2 = 0").count() == 0


def test_no_cadence_argument_left():
    """The cadence is the table's property, never a call argument."""
    needle = "checkpoint" + "_interval"
    hits = []
    paths = [os.path.join(REPO, "bench.py")]
    for d in ("levi_spark", "tests", "tools"):
        paths += glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)
    for f in paths:
        with open(f, encoding="utf-8") as fh:
            if needle in fh.read():
                hits.append(os.path.relpath(f, REPO))
    assert hits == []
