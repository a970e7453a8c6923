"""File-targeted mutation contracts (round 2): drop_duplicates /
drop_duplicates_pkey / type_2_scd_upsert must rewrite ONLY files that
actually lose or change a row — untouched add actions survive with
their original paths and stats — and SCD2 accepts interchange-protocol
updates (pandas) like the reference does."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.dedup import drop_duplicates, drop_duplicates_pkey
from levi_spark.operators.scd import type_2_scd_upsert


def _paths(table: LeviTable) -> set[str]:
    return {
        r["path"] for r in table.snapshot().add_actions().select("path").collect()
    }


def _mk_two_file_table(spark, path):
    """v0: file A holds ids 0-9 (with a duplicate pair), commit 1 adds
    file B holding ids 100-109 (no duplicates)."""
    a = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(10)], "pk long, k long, v double"
    ).coalesce(1)
    write_delta(a, path, mode="error")
    b = spark.createDataFrame(
        [(100 + i, 50 + i, float(i)) for i in range(10)], "pk long, k long, v double"
    ).coalesce(1)
    write_delta(b, path, mode="append")
    return LeviTable(spark, path)


def test_drop_duplicates_rewrites_only_hit_files(spark, tmp_path):
    t = _mk_two_file_table(spark, str(tmp_path / "t"))
    before = _paths(t)
    assert len(before) == 2
    # k repeats within file A only (ids 0-9 share k in 0..4)
    r = drop_duplicates(t, ["k"])
    assert r["files_rewritten"] == 1
    after = _paths(t)
    # file B's add action survives verbatim
    untouched = before & after
    assert len(untouched) == 1
    # one row per k value remains, first-physical survivor
    rows = {(row.pk, row.k) for row in t.to_df().collect()}
    assert {p for p, _ in rows if p < 100} == {0, 1, 2, 3, 4}
    assert len([p for p, _ in rows if p >= 100]) == 10


def test_drop_duplicates_noop_commits_nothing(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10), (2, 20)], "pk long, k long")
    write_delta(df, path, mode="error")
    t = LeviTable(spark, path)
    v_before = t.version()
    r = drop_duplicates(t, ["k"])
    assert r == {
        "files_rewritten": 0,
        "files_total": r["files_total"],
        "rows_deleted": 0,
        "version": -1,
    }
    assert t.version() == v_before


def test_drop_duplicates_pkey_rewrites_only_hit_files(spark, tmp_path):
    t = _mk_two_file_table(spark, str(tmp_path / "t"))
    before = _paths(t)
    r = drop_duplicates_pkey(t, "pk", ["k"])
    assert r["files_rewritten"] == 1
    assert len(before & _paths(t)) == 1
    # lowest pk survives per k group
    rows = {(row.pk, row.k) for row in t.to_df().collect()}
    assert {p for p, _ in rows if p < 100} == {0, 1, 2, 3, 4}


def test_scd2_upsert_rewrites_only_changed_files(spark, tmp_path):
    """Two files of current rows; the update touches a pk in one file
    only — the other file's add action must survive the upsert."""
    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1)
    a = spark.createDataFrame(
        [(1, "A", True, t0, None), (2, "B", True, t0, None)],
        "pkey long, attr string, is_current boolean, "
        "effective_time timestamp, end_time timestamp",
    ).coalesce(1)
    write_delta(a, path, mode="error")
    b = spark.createDataFrame(
        [(10, "X", True, t0, None), (11, "Y", True, t0, None)],
        "pkey long, attr string, is_current boolean, "
        "effective_time timestamp, end_time timestamp",
    ).coalesce(1)
    write_delta(b, path, mode="append")
    t = LeviTable(spark, path)
    before = _paths(t)
    assert len(before) == 2

    t1 = dt.datetime(2025, 1, 1)
    ups = spark.createDataFrame(
        [(2, "Z", t1)], "pkey long, attr string, effective_time timestamp"
    )
    r = type_2_scd_upsert(
        t, ups, "pkey", ["attr"], "is_current", "effective_time", "end_time"
    )
    assert r["files_rewritten"] == 1
    after = _paths(t)
    assert len(before & after) == 1, "file without the changed pk must survive"
    got = sorted(
        tuple(row)
        for row in t.to_df()
        .select("pkey", "attr", "is_current", "effective_time", "end_time")
        .collect()
    )
    assert got == sorted(
        [
            (1, "A", True, t0, None),
            (2, "B", False, t0, t1),
            (2, "Z", True, t1, None),
            (10, "X", True, t0, None),
            (11, "Y", True, t0, None),
        ]
    )


def test_scd2_noop_update_burns_no_version(spark, tmp_path):
    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "A", True, t0, None)],
        "pkey long, attr string, is_current boolean, "
        "effective_time timestamp, end_time timestamp",
    )
    write_delta(df, path, mode="error")
    t = LeviTable(spark, path)
    v0 = t.version()
    same = spark.createDataFrame(
        [(1, "A", dt.datetime(2025, 1, 1))],
        "pkey long, attr string, effective_time timestamp",
    )
    r = type_2_scd_upsert(
        t, same, "pkey", ["attr"], "is_current", "effective_time", "end_time"
    )
    assert r["version"] == -1 and t.version() == v0


def test_scd2_accepts_pandas_updates(spark, tmp_path):
    """Interchange-protocol parity with the reference
    (/root/reference/levi/__init__.py:9,171,224 — any __dataframe__
    producer; its tests pass pandas DataFrames)."""
    path = str(tmp_path / "t")
    t0 = dt.datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [(1, "A", True, t0, None), (2, "B", True, t0, None)],
        "pkey long, attr string, is_current boolean, "
        "effective_time timestamp, end_time timestamp",
    )
    write_delta(base, path, mode="error")
    t = LeviTable(spark, path)
    t1 = dt.datetime(2025, 1, 1)
    ups = pd.DataFrame(
        {"pkey": [2, 3], "attr": ["Z", "C"], "effective_time": [t1, t1]}
    )
    type_2_scd_upsert(
        t, ups, "pkey", ["attr"], "is_current", "effective_time", "end_time"
    )
    got = sorted(
        (row.pkey, row.attr, row.is_current) for row in t.to_df().collect()
    )
    assert got == sorted(
        [(1, "A", True), (2, "B", False), (2, "Z", True), (3, "C", True)]
    )
