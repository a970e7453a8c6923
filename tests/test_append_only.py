"""delta.appendOnly enforcement: an append-only table accepts appends
and metadata ops but refuses every commit that would remove live data
(overwrite, DELETE, MERGE's file rewrite, replace_paths)."""

from __future__ import annotations

import pytest

from levi_spark.delta.constraints import set_table_properties
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge


def _mk(spark, path):
    write_delta(
        spark.range(10).selectExpr("id", "id * 2 AS v"), path, mode="error",
    )
    set_table_properties(spark, path, {"delta.appendOnly": "true"})


def test_appends_and_reads_still_work(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    write_delta(
        spark.range(10, 13).selectExpr("id", "id * 2 AS v"), p,
        mode="append",
    )
    got = sorted(r.id for r in DeltaLog(spark, p).snapshot().to_df().collect())
    assert got == list(range(13))


def test_overwrite_refused(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    with pytest.raises(ValueError, match="append-only"):
        write_delta(
            spark.range(3).selectExpr("id", "id * 2 AS v"), p,
            mode="overwrite",
        )


def test_delete_refused(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    with pytest.raises(ValueError, match="append-only"):
        soft_delete(spark, p, "id % 2 = 0")


def test_merge_update_refused_but_insert_only_allowed(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    upd = spark.range(5).selectExpr("id AS k", "id * 100 AS nv")
    with pytest.raises(ValueError, match="append-only"):
        (
            merge(LeviTable(spark, p), upd, "t.id = s.k")
            .when_matched_update(set={"v": "s.nv"})
            .execute()
        )
    # insert-only merge touches no existing file -> legal append
    new = spark.range(20, 23).selectExpr("id AS k", "id * 2 AS nv")
    (
        merge(LeviTable(spark, p), new, "t.id = s.k")
        .when_not_matched_insert(values={"id": "s.k", "v": "s.nv"})
        .execute()
    )
    got = sorted(r.id for r in DeltaLog(spark, p).snapshot().to_df().collect())
    assert got == list(range(10)) + [20, 21, 22]


def test_unset_restores_mutability(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    set_table_properties(spark, p, {"delta.appendOnly": None})
    soft_delete(spark, p, "id = 0")
    got = sorted(r.id for r in DeltaLog(spark, p).snapshot().to_df().collect())
    assert got == list(range(1, 10))


def test_restore_refused(spark, tmp_path):
    from levi_spark.delta.restore import restore

    p = str(tmp_path / "t")
    _mk(spark, p)
    write_delta(
        spark.range(10, 12).selectExpr("id", "id * 2 AS v"), p,
        mode="append",
    )
    with pytest.raises(ValueError, match="append-only"):
        restore(spark, p, 0)
