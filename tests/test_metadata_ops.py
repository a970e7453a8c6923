"""Metadata-plane operator goldens — same values the reference asserts
(/root/reference/tests/test_public_interface.py:11-156)."""

import datetime
import json
import os
import time

import pytest

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta
from levi_spark.functions.units import boundary_parser, str_to_bytes
from levi_spark.operators.metadata import (
    delta_file_sizes,
    filter_to_sql,
    filters_to_sql,
    latest_version,
    skipped_stats,
    updated_partitions,
)


@pytest.fixture(scope="module")
def basic_append(spark, fixtures_dir):
    return DeltaLog(spark, os.path.join(fixtures_dir, "basic_append", "delta")).snapshot()


def test_skipped_stats_goldens(basic_append):
    cases = [
        ([("a_float", "=", 4.5)], {"num_files": 3, "num_files_skipped": 2, "num_bytes_skipped": 3887}),
        ([("a_float", ">", 1), ("a_float", "<", 3)], {"num_files": 3, "num_files_skipped": 1, "num_bytes_skipped": 984}),
        ([("a_float", "<", 4.5)], {"num_files": 3, "num_files_skipped": 0, "num_bytes_skipped": 0}),
        ([("a_float", "<=", 2.3)], {"num_files": 3, "num_files_skipped": 1, "num_bytes_skipped": 984}),
        ([("a_float", ">", 4.5)], {"num_files": 3, "num_files_skipped": 2, "num_bytes_skipped": 3887}),
    ]
    for filters, expected in cases:
        assert skipped_stats(basic_append, filters) == expected, filters


def test_filter_to_sql():
    assert filter_to_sql(("a_float", "=", 4.5)) == "(`min.a_float` <= 4.5 and `max.a_float` >= 4.5)"
    assert filter_to_sql(("a_float", ">", 3)) == "(`max.a_float` > 3)"
    assert filters_to_sql([("a", "<", 1), ("b", ">=", 2)]) == "(`min.a` < 1) and (`max.b` >= 2)"
    with pytest.raises(ValueError):
        filter_to_sql(("a", "!=", 1))


def test_delta_file_sizes_golden(basic_append):
    res = delta_file_sizes(basic_append, ["<300b", "300b-1kb", "1kb-100kb", ">100kb"])
    assert res == {
        "num_files_<300b": 0,
        "num_files_300b-1kb": 2,
        "num_files_1kb-100kb": 1,
        "num_files_>100kb": 0,
    }


def test_latest_version_golden(spark, fixtures_dir):
    log = DeltaLog(spark, os.path.join(fixtures_dir, "multi_partitioned", "delta"))
    assert latest_version(log) == 2
    assert latest_version(log.snapshot()) == 2


def test_str_to_bytes():
    assert str_to_bytes("100b") == 100
    assert str_to_bytes("1kb") == 1_000
    assert str_to_bytes("4gb") == 4_000_000_000
    with pytest.raises(ValueError):
        str_to_bytes("4zb")


def test_boundary_parser():
    ten_tb = 10_000_000_000_000
    assert boundary_parser("<=1kb") == (0, 1_000)
    assert boundary_parser("<1kb") == (0, 999)
    assert boundary_parser(">=1kb") == (1000, ten_tb)
    assert boundary_parser(">1kb") == (1001, ten_tb)
    assert boundary_parser("10kb-4gb") == (10_000, 4_000_000_000)
    with pytest.raises(ValueError):
        boundary_parser("oops")


def test_updated_partitions_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "t")
    df1 = spark.range(100).selectExpr("id as data", "1 as partition_1", "'a' as partition_2")
    write_delta(df1, loc, mode="error", partition_by=["partition_1", "partition_2"])
    start = datetime.datetime.now(datetime.timezone.utc)
    time.sleep(0.05)
    df2 = spark.range(100).selectExpr("id as data", "2 as partition_1", "'b' as partition_2")
    write_delta(df2, loc, mode="append", partition_by=["partition_1", "partition_2"])
    time.sleep(0.05)
    end = datetime.datetime.now(datetime.timezone.utc)

    snap = DeltaLog(spark, loc).snapshot()
    # no time filter: both partitions, first-seen order, typed values
    assert updated_partitions(snap) == [
        {"partition_1": 1, "partition_2": "a"},
        {"partition_1": 2, "partition_2": "b"},
    ]
    # [start, end) captures only the second append
    assert updated_partitions(snap, start, end) == [{"partition_1": 2, "partition_2": "b"}]


def test_write_read_roundtrip_overwrite(spark, tmp_path):
    loc = str(tmp_path / "rt")
    df = spark.range(10).selectExpr("id", "id * 2 as dbl")
    write_delta(df, loc, mode="error")
    log = DeltaLog(spark, loc)
    assert log.latest_version() == 0
    assert log.snapshot().to_df().count() == 10
    df2 = spark.range(3).selectExpr("id", "id * 3 as dbl")
    write_delta(df2, loc, mode="overwrite")
    assert log.snapshot().to_df().count() == 3
    # time travel still sees v0
    assert log.snapshot(0).to_df().count() == 10
    # stats present and parsed
    aa = log.snapshot().add_actions()
    assert aa.selectExpr("sum(num_records)").first()[0] == 3


def _commit_add(table_path, version, edit=None):
    """The single add action of one commit file, after rewriting it in
    place with ``edit`` when given."""
    p = os.path.join(table_path, "_delta_log", f"{version:020d}.json")
    with open(p) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    (add,) = [a["add"] for a in actions if "add" in a]
    if edit is not None:
        edit(add)
        with open(p, "w") as f:
            f.write("".join(json.dumps(a) + "\n" for a in actions))
    return add


@pytest.fixture(scope="module")
def fold_table(spark, tmp_path_factory):
    """Five one-file commits, partitioned by string ``p`` over long
    ``x``: v0 p=a x 0-9, v1 p=NULL x 10-19, v2 p=b x 20-29 (stats
    removed), v3 p=NULL x 30-39 (size NULL), v4 p=a x 40-49. Returns
    (path, {version: add action as committed})."""
    loc = str(tmp_path_factory.mktemp("fold") / "t")
    for v, p in enumerate(["a", None, "b", None, "a"]):
        df = spark.range(10 * v, 10 * v + 10, numPartitions=1).selectExpr(
            "id as x", f"cast({'null' if p is None else repr(p)} as string) as p"
        )
        write_delta(df, loc, mode="error" if v == 0 else "append", partition_by=["p"])
        time.sleep(0.05)  # distinct modification times per commit
    adds = {v: _commit_add(loc, v) for v in (0, 1, 4)}
    adds[2] = _commit_add(loc, 2, lambda a: a.pop("stats"))
    adds[3] = _commit_add(loc, 3, lambda a: a.update(size=None))
    return loc, adds


# the single param keeps the fold tests' "[local]" ids stable
@pytest.fixture(params=["local"])
def fold_snap(spark, fold_table):
    """The fold table's snapshot, replayed on the driver."""
    return DeltaLog(spark, fold_table[0]).snapshot()


def test_skipped_stats_fold_parity(fold_snap, fold_table):
    adds = fold_table[1]
    size = {v: a["size"] for v, a in adds.items()}
    # x = 15 can only be in v1; v2 has no stats (NULL predicate = not
    # matched = skipped); v3's NULL size adds no bytes
    assert skipped_stats(fold_snap, [("x", "=", 15)]) == {
        "num_files": 5,
        "num_files_skipped": 4,
        "num_bytes_skipped": size[0] + size[2] + size[4],
    }
    # the bounds are inclusive: x <= 0 matches v0's min exactly
    assert skipped_stats(fold_snap, [("x", "<=", 0)])["num_files_skipped"] == 4
    assert skipped_stats(fold_snap, [("x", ">=", 49)])["num_files_skipped"] == 4


def test_delta_file_sizes_fold_parity(fold_snap, fold_table):
    sizes = [a["size"] for a in fold_table[1].values() if a["size"] is not None]
    lo, hi = min(sizes), max(sizes)
    res = delta_file_sizes(
        fold_snap, [f"<{lo}b", f"{lo}b-{hi}b", f"{lo}b-{lo}b", f">{hi}b"]
    )
    # inclusive bucket bounds; the NULL-size file is in no bucket
    assert res == {
        f"num_files_<{lo}b": 0,
        f"num_files_{lo}b-{hi}b": 4,
        f"num_files_{lo}b-{lo}b": sizes.count(lo),
        f"num_files_>{hi}b": 0,
    }


def test_updated_partitions_fold_parity(fold_snap, fold_table):
    adds = fold_table[1]
    # the NULL partition is one group; first-seen order
    assert updated_partitions(fold_snap) == [{"p": "a"}, {"p": None}, {"p": "b"}]
    # from v3 on, NULL (first seen at v3) precedes "a" (v4 in the window)
    t3 = adds[3]["modificationTime"]
    assert updated_partitions(fold_snap, t3) == [{"p": None}, {"p": "a"}]
    assert updated_partitions(fold_snap, t3, adds[4]["modificationTime"]) == [
        {"p": None}
    ]
