"""Every verb that commits goes through ``delta/writer.py:commit``.

On a table that is coordinated (filesystem commit coordinator) and has
in-commit timestamps (ICT) on, with a staged tail, each verb's commit
must be staged under ``_delta_log/_commits``, carry an ICT strictly
above its predecessor's, and leave the table readable. The constraint
and property verbs and ``widen_column`` must also accept a ``file://``
table path."""

from __future__ import annotations

import glob
import json
import os
import re

import pytest
from pyspark.sql import functions as F

import levi_spark
from levi_spark.delta.checkpoint import write_checkpoint
from levi_spark.delta.constraints import (
    add_check_constraint,
    drop_check_constraint,
    set_table_properties,
)
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.evolve import widen_column
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.restore import restore
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge

BASE = {(i, i) for i in range(8)}


def _frame(spark, lo, hi):
    return spark.range(lo, hi).select("id", F.col("id").cast("int").alias("k"))


def _coordinated_ict_table(spark, p) -> int:
    """v0 creates a coordinated table, v1 turns ICT on, v2 appends; the
    tail (at least v2) is staged. Returns the latest version."""
    write_delta(_frame(spark, 0, 6), p, mode="error",
                coordinated=True)
    set_table_properties(spark, p, {"delta.enableInCommitTimestamps": "true"})
    write_delta(_frame(spark, 6, 8), p, mode="append")
    return DeltaLog(spark, p).latest_version()


def _staged_file(p, v) -> str | None:
    names = glob.glob(os.path.join(p, "_delta_log", "_commits", f"{v:020d}.*.json"))
    return names[0] if len(names) == 1 else None


def _ict(p, v) -> int:
    path = _staged_file(p, v) or os.path.join(p, "_delta_log", f"{v:020d}.json")
    for line in open(path):
        ci = json.loads(line).get("commitInfo")
        if ci is not None:
            return ci["inCommitTimestamp"]
    raise AssertionError(f"commit {v} has no commitInfo")


def _rows(spark, p):
    df = DeltaLog(spark, p).snapshot().to_df()
    return {(r.id, r.k) for r in df.select("id", "k").collect()}


def _append(spark, p):
    write_delta(_frame(spark, 100, 102), p, mode="append")
    return BASE | {(100, 100), (101, 101)}


def _merge(spark, p):
    src = spark.createDataFrame([(2, -2)], "id long, k int")
    (
        merge(LeviTable.for_path(spark, p), src, "t.id = s.id")
        .when_matched_update({"k": F.col("s.k")})
        .execute()
    )
    return (BASE - {(2, 2)}) | {(2, -2)}


def _soft_delete(spark, p):
    soft_delete(spark, p, "id = 3")
    return BASE - {(3, 3)}


def _restore(spark, p):
    restore(spark, p, 1)
    return {(i, i) for i in range(6)}


def _add_constraint(spark, p):
    add_check_constraint(spark, p, "id_nonneg", "id >= 0")
    return BASE


def _drop_constraint(spark, p):
    add_check_constraint(spark, p, "id_nonneg", "id >= 0")
    drop_check_constraint(spark, p, "id_nonneg")
    return BASE


def _set_properties(spark, p):
    set_table_properties(spark, p, {"delta.logRetentionDuration": "interval 7 days"})
    return BASE


def _widen(spark, p):
    widen_column(spark, p, "k", "long")
    return BASE


def _v2_checkpoint(spark, p):
    write_checkpoint(spark, p, format="v2")
    return BASE


VERBS = {
    "append": _append,
    "merge": _merge,
    "soft_delete": _soft_delete,
    "restore": _restore,
    "add_check_constraint": _add_constraint,
    "drop_check_constraint": _drop_constraint,
    "set_table_properties": _set_properties,
    "widen_column": _widen,
    "v2_checkpoint_upgrade": _v2_checkpoint,
}


@pytest.mark.parametrize("verb", list(VERBS))
def test_commit_is_staged_and_stamped(spark, tmp_path, verb):
    p = str(tmp_path / "t")
    before = _coordinated_ict_table(spark, p)
    assert _staged_file(p, before) is not None  # the tail is staged
    expected = VERBS[verb](spark, p)
    after = DeltaLog(spark, p).latest_version()
    assert after > before
    for v in range(before + 1, after + 1):
        staged = _staged_file(p, v)
        assert staged is not None, f"commit {v} is not staged"
        # only a byte-identical backfill may sit beside it (write_checkpoint
        # backfills the commits it covers)
        backfilled = os.path.join(p, "_delta_log", f"{v:020d}.json")
        assert not os.path.exists(backfilled) or (
            open(backfilled).read() == open(staged).read()
        ), f"commit {v} bypassed the coordinator"
        assert _ict(p, v) > _ict(p, v - 1)
    assert _rows(spark, p) == expected


@pytest.mark.parametrize(
    "verb", ["add_check_constraint", "drop_check_constraint",
             "set_table_properties", "widen_column"]
)
def test_metadata_verbs_take_file_uri(spark, tmp_path, verb):
    uri = f"file://{tmp_path}/t"
    write_delta(_frame(spark, 0, 8), uri, mode="error")
    VERBS[verb](spark, uri)
    log_dir = os.path.join(str(tmp_path), "t", "_delta_log")
    versions = sorted(int(n[:20]) for n in os.listdir(log_dir) if n.endswith(".json"))
    assert versions == list(range(versions[-1] + 1)) and versions[-1] >= 1
    assert _rows(spark, uri) == BASE


def test_only_writer_builds_commit_info_and_metadata():
    """One place writes commitInfo and metaData: ``writer.commit``."""
    pkg = os.path.join(os.path.dirname(levi_spark.__file__), "delta")
    hits: dict[str, list[str]] = {}
    for pattern in (r'"engineInfo"\s*:', r'"format"\s*:\s*\{\s*"provider"'):
        for f in sorted(glob.glob(os.path.join(pkg, "*.py"))):
            n = len(re.findall(pattern, open(f).read()))
            if n:
                hits.setdefault(pattern, []).extend([os.path.basename(f)] * n)
    assert hits == {
        r'"engineInfo"\s*:': ["writer.py"],
        r'"format"\s*:\s*\{\s*"provider"': ["writer.py"],
    }
