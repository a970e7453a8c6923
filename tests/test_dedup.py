"""Dedup operator round-trips — canonical inputs/expected sets from the
reference suite (/root/reference/tests/test_public_interface.py:159-198,
597-906)."""

import pytest

from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.dedup import (
    drop_duplicates,
    drop_duplicates_pkey,
    kill_duplicates,
)


def _mk_table(spark, path, rows, cols):
    df = spark.createDataFrame(rows, cols)
    write_delta(df, path, mode="error")
    return LeviTable(spark, path)


def _rows(table, cols):
    return sorted(tuple(r) for r in table.to_df().select(*cols).collect())


KILL_ROWS = [
    (1, "A", "A"), (2, "A", "B"), (3, "A", "A"), (4, "A", "A"),
    (5, "B", "B"), (6, "D", "D"), (9, "B", "B"),
]


def test_kill_duplicates(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t"), KILL_ROWS, ["col1", "col2", "col3"])
    kill_duplicates(t, ["col3", "col2"])
    assert _rows(t, ["col1", "col2", "col3"]) == [(2, "A", "B"), (6, "D", "D")]


def test_kill_duplicates_null_keys_survive(spark, tmp_path):
    rows = [(1, None, "A"), (2, None, "A"), (3, "X", "A")]
    t = _mk_table(spark, str(tmp_path / "t"), rows, ["col1", "col2", "col3"])
    kill_duplicates(t, ["col2", "col3"])
    # NULL = NULL never matches: both null rows survive
    assert _rows(t, ["col1"]) == [(1,), (2,), (3,)]


def test_kill_duplicates_errors(spark, tmp_path):
    t = _mk_table(spark, str(tmp_path / "t"), KILL_ROWS, ["col1", "col2", "col3"])
    with pytest.raises(TypeError):
        kill_duplicates("not a table", ["col1"])
    with pytest.raises(TypeError):
        kill_duplicates(t, [])
    with pytest.raises(TypeError):
        kill_duplicates(t, ["nope"])


def test_kill_duplicates_targeted_rewrites_only_hit_files(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["col1", "col2", "col3"]
    # file 0: all the duplicate groups; file 1: clean rows only
    write_delta(spark.createDataFrame(KILL_ROWS, cols).coalesce(1), path, mode="error")
    clean = [(10, "X", "Y"), (11, "Y", "Z")]
    write_delta(spark.createDataFrame(clean, cols).coalesce(1), path, mode="append")
    t = LeviTable(spark, path)
    clean_paths = {
        r["path"]
        for r in t.snapshot().add_actions().where("commit_version = 1").collect()
    }

    res = kill_duplicates(t, ["col3", "col2"])
    assert res["files_rewritten"] == 1
    assert res["files_total"] == 2
    assert res["rows_deleted"] == 5
    t = LeviTable(spark, path)
    assert _rows(t, cols) == [(2, "A", "B"), (6, "D", "D"), (10, "X", "Y"), (11, "Y", "Z")]
    # the clean file was not rewritten — same physical file still live
    live = {r["path"] for r in t.snapshot().add_actions().collect()}
    assert clean_paths <= live


def test_kill_duplicates_targeted_noop_and_nulls(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["col1", "col2", "col3"]
    # NULL-keyed repeats only → never deleted, and no file rewritten
    rows = [(1, None, "A"), (2, None, "A"), (3, "X", "A")]
    write_delta(spark.createDataFrame(rows, cols), path, mode="error")
    t = LeviTable(spark, path)
    res = kill_duplicates(t, ["col2", "col3"])
    assert res["version"] == -1
    assert res["files_rewritten"] == 0
    assert _rows(t, ["col1"]) == [(1,), (2,), (3,)]


def test_kill_duplicates_targeted_group_spanning_files(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["col1", "col2", "col3"]
    # one duplicate group split across two commits/files → both rewritten
    write_delta(
        spark.createDataFrame([(1, "A", "A"), (2, "A", "B")], cols).coalesce(1),
        path, mode="error",
    )
    write_delta(
        spark.createDataFrame([(3, "A", "A"), (4, "C", "C")], cols).coalesce(1),
        path, mode="append",
    )
    t = LeviTable(spark, path)
    res = kill_duplicates(t, ["col2", "col3"])
    assert res["files_rewritten"] == 2
    assert _rows(t, cols) == [(2, "A", "B"), (4, "C", "C")]


DROP_ROWS = [
    (1, "A", "A", "C"), (2, "A", "B", "C"), (3, "A", "A", "D"),
    (4, "A", "A", "E"), (5, "B", "B", "C"), (6, "D", "D", "C"), (9, "B", "B", "E"),
]


def test_drop_duplicates_keeps_first_physical(spark, tmp_path):
    # single input partition → one file → physical order == insertion order
    df = spark.createDataFrame(DROP_ROWS, ["col1", "col2", "col3", "col4"]).coalesce(1)
    path = str(tmp_path / "t")
    write_delta(df, path, mode="error")
    t = LeviTable(spark, path)
    drop_duplicates(t, ["col2", "col3"])
    assert _rows(t, ["col1", "col2", "col3", "col4"]) == [
        (1, "A", "A", "C"),
        (2, "A", "B", "C"),
        (5, "B", "B", "C"),
        (6, "D", "D", "C"),
    ]


def test_drop_duplicates_pkey(spark, tmp_path):
    # unsorted pk input — survivor must be lowest pk per group
    rows = [(9, "B", "B", "E"), (4, "A", "A", "E"), (1, "A", "A", "C"),
            (5, "B", "B", "C"), (2, "A", "B", "C"), (6, "D", "D", "C"),
            (3, "A", "A", "D")]
    t = _mk_table(spark, str(tmp_path / "t"), rows, ["col1", "col2", "col3", "col4"])
    drop_duplicates_pkey(t, "col1", ["col2", "col3"])
    assert _rows(t, ["col1", "col2", "col3", "col4"]) == [
        (1, "A", "A", "C"),
        (2, "A", "B", "C"),
        (5, "B", "B", "C"),
        (6, "D", "D", "C"),
    ]


def test_drop_duplicates_pkey_errors(spark, tmp_path):
    t = _mk_table(
        spark, str(tmp_path / "t"),
        [(1, "A", "A"), (1, "B", "B")], ["col1", "col2", "col3"],
    )
    with pytest.raises(TypeError):
        drop_duplicates_pkey(t, "", ["col2"])
    with pytest.raises(TypeError):
        drop_duplicates_pkey(t, "col1", ["col1", "col2"])
    with pytest.raises(TypeError):
        drop_duplicates_pkey(t, "col1", ["missing"])
    with pytest.raises(ValueError):
        drop_duplicates_pkey(t, "col1", ["col2"])  # pk not unique


def test_kill_duplicates_targeted_rows_deleted_is_row_count_drop(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["col1", "col2", "col3"]
    # groups of 3 (one spanning both files), 2, and NULL-keyed repeats
    write_delta(
        spark.createDataFrame(
            [(1, "A", "A"), (2, "A", "A"), (3, "B", "B"), (4, None, "N")], cols
        ).coalesce(1),
        path, mode="error",
    )
    write_delta(
        spark.createDataFrame(
            [(5, "A", "A"), (6, "B", "B"), (7, None, "N"), (8, "C", "C")], cols
        ).coalesce(1),
        path, mode="append",
    )
    t = LeviTable(spark, path)
    before = t.to_df().count()
    res = kill_duplicates(t, ["col2", "col3"])
    after = LeviTable(spark, path).to_df().count()
    assert res["rows_deleted"] == before - after == 5
    assert _rows(LeviTable(spark, path), ["col1"]) == [(4,), (7,), (8,)]


def test_drop_duplicates_partitioned_with_null_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["id", "k", "p"]
    # the "x" group spans commit 0 (NULL partition) and commit 1
    # (partition "b"); the "y" group sits in partition "a" only
    write_delta(
        spark.createDataFrame(
            [(1, "x", None), (2, "y", "a"), (3, "y", "a"), (4, "z", "b")], cols
        ).coalesce(1),
        path, mode="error", partition_by=["p"],
    )
    write_delta(
        spark.createDataFrame([(5, "x", "b"), (6, "w", None)], cols).coalesce(1),
        path, mode="append", partition_by=["p"],
    )
    t = LeviTable(spark, path)
    before = t.to_df().count()
    res = drop_duplicates(t, ["k"])
    t = LeviTable(spark, path)
    # survivor = first in (commit version, path, row index) order
    assert _rows(t, cols) == [(1, "x", None), (2, "y", "a"), (4, "z", "b"), (6, "w", None)]
    assert res["rows_deleted"] == before - t.to_df().count() == 2
    assert res["files_rewritten"] == 2


def test_kill_duplicates_partitioned_with_null_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    cols = ["id", "k", "p"]
    # the "x" group spans commit 0 (NULL partition) and commit 1
    # (partition "b"); the "y" group sits in partition "a" only; the
    # NULL-keyed repeats (ids 5, 8) survive; partition "c" is clean
    write_delta(
        spark.createDataFrame(
            [(1, "x", None), (2, "y", "a"), (3, "y", "a"), (4, "z", "b"),
             (5, None, "c")],
            cols,
        ).coalesce(1),
        path, mode="error", partition_by=["p"],
    )
    write_delta(
        spark.createDataFrame(
            [(6, "x", "b"), (7, "w", None), (8, None, "c")], cols
        ).coalesce(1),
        path, mode="append", partition_by=["p"],
    )
    t = LeviTable(spark, path)
    before = t.to_df().count()
    files_total = len(t.snapshot().live_adds_collected())
    res = kill_duplicates(t, ["k"])
    t = LeviTable(spark, path)
    assert _rows(t, cols) == [
        (4, "z", "b"), (5, None, "c"), (7, "w", None), (8, None, "c"),
    ]
    assert res["rows_deleted"] == before - t.to_df().count() == 4
    # hit files: commit 0's NULL and "a" partitions, commit 1's "b"
    assert res["files_rewritten"] == 3
    assert res["files_total"] == files_total == 7
