"""Change-feed (lite): incremental reads between versions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.changes import table_changes
from levi_spark.delta.checkpoint import expire_log, write_checkpoint
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.writer import write_delta
from levi_spark.operators.layout import compact_small_files


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") % 3).alias("k"))


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(_df(spark, 0, 100), p, mode="error")  # v0
    write_delta(_df(spark, 100, 150), p, mode="append")  # v1
    write_delta(_df(spark, 150, 160), p, mode="append")  # v2
    return p


def test_changes_since_version(spark, table):
    ch = table_changes(spark, table, from_version=0)
    assert sorted(r.id for r in ch.collect()) == list(range(100, 160))
    vers = {r._commit_version for r in ch.collect()}
    assert vers == {1, 2}


def test_changes_bounded_range(spark, table):
    ch = table_changes(spark, table, from_version=0, to_version=1)
    assert sorted(r.id for r in ch.collect()) == list(range(100, 150))


def test_layout_and_dv_commits_add_no_rows(spark, table):
    compact_small_files(spark, table, small_bytes=10**9)  # v3 OPTIMIZE
    soft_delete(spark, table, "id < 5")  # v4 DELETE
    ch = table_changes(spark, table, from_version=2)
    assert ch.count() == 0
    # and the full range still reports only genuine appends
    ch_all = table_changes(spark, table, from_version=0)
    assert sorted(r.id for r in ch_all.collect()) == list(range(100, 160))


def test_expired_log_raises(spark, table):
    write_checkpoint(spark, table)
    expire_log(spark, table)
    with pytest.raises(FileNotFoundError, match="expired"):
        table_changes(spark, table, from_version=0)


def test_partitioned_changes_carry_partition_values(spark, tmp_path):
    p = str(tmp_path / "pt")
    write_delta(
        _df(spark, 0, 30), p, mode="error", partition_by=["k"],
    )
    write_delta(
        _df(spark, 30, 60), p, mode="append", partition_by=["k"],
    )
    ch = table_changes(spark, p, from_version=0)
    rows = {(r.id, r.k) for r in ch.collect()}
    assert rows == {(i, i % 3) for i in range(30, 60)}


def test_bad_range_raises(spark, table):
    with pytest.raises(ValueError, match="from_version"):
        table_changes(spark, table, from_version=5, to_version=2)


# ---- timestamp-windowed CDF -------------------------------------------------

def test_changes_between_timestamps(spark, table):
    from levi_spark.delta.changes import table_changes_cdf_between_timestamps
    from levi_spark.delta.log import DeltaLog

    ts = dict(DeltaLog(spark, table).commit_timestamps())
    # window starting AT v1's timestamp INCLUDES v1 (the CDF asymmetry
    # vs timestampAsOf), through the latest commit
    ch = table_changes_cdf_between_timestamps(spark, table, ts[1])
    assert sorted(r.id for r in ch.collect()) == list(range(100, 160))
    assert set(r._change_type for r in ch.collect()) == {"insert"}
    # bounded: [v1, v2) by ending just before v2's stamp
    ch = table_changes_cdf_between_timestamps(spark, table, ts[1], ts[2] - 1)
    assert sorted(r.id for r in ch.collect()) == list(range(100, 150))
    # a start between v0 and v1 rounds FORWARD to v1
    ch = table_changes_cdf_between_timestamps(spark, table, ts[0] + 1, ts[1])
    assert sorted(r.id for r in ch.collect()) == list(range(100, 150))


def test_changes_between_timestamps_errors(spark, table):
    from levi_spark.delta.changes import table_changes_cdf_between_timestamps
    from levi_spark.delta.log import DeltaLog

    ts = dict(DeltaLog(spark, table).commit_timestamps())
    with pytest.raises(ValueError, match="after the latest"):
        table_changes_cdf_between_timestamps(spark, table, ts[2] + 10_000)
    with pytest.raises(ValueError, match="before the earliest"):
        table_changes_cdf_between_timestamps(spark, table, ts[0], ts[0] - 10)
    with pytest.raises(ValueError, match="empty timestamp window"):
        table_changes_cdf_between_timestamps(spark, table, ts[1], ts[1] - 1)
