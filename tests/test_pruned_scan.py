"""pruned_scan: data skipping applied at scan time — fewer files read
(verified via inputFiles), identical rows to a full-scan filter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta
from levi_spark.operators.metadata import pruned_scan, skipped_stats


@pytest.fixture()
def range_table(spark, tmp_path):
    """8 files, each covering a tight contiguous id range (range
    partitioning makes min/max stats disjoint across files)."""
    p = str(tmp_path / "rt")
    df = spark.range(8000).select(
        F.col("id"), (F.col("id") % 97).alias("x"), (F.col("id") * 2.5).alias("v")
    )
    write_delta(
        df.repartitionByRange(8, "id").sortWithinPartitions("id"),
        p, mode="error",
    )
    return p


def _n_input_files(df) -> int:
    return len(df.inputFiles())


def test_stats_pruning_reads_fewer_files(spark, range_table):
    snap = DeltaLog(spark, range_table).snapshot()
    full = snap.to_df()
    assert _n_input_files(full) == 8
    pruned = pruned_scan(snap, [("id", "=", 4242)])
    assert _n_input_files(pruned) == 1
    assert [r.id for r in pruned.collect()] == [4242]


def test_range_predicate_prunes_and_matches_full_scan(spark, range_table):
    snap = DeltaLog(spark, range_table).snapshot()
    pruned = pruned_scan(snap, [("id", ">=", 7000)])
    assert _n_input_files(pruned) <= 2
    want = sorted(r.id for r in snap.to_df().where("id >= 7000").collect())
    assert sorted(r.id for r in pruned.collect()) == want
    # and the skipped_stats *measurement* agrees with what the scan did
    meas = skipped_stats(snap, [("id", ">=", 7000)])
    assert meas["num_files"] - meas["num_files_skipped"] == _n_input_files(pruned)


def test_partition_pruning_is_exact(spark, tmp_path):
    p = str(tmp_path / "pt")
    df = spark.range(900).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("part")
    )
    write_delta(df, p, mode="error", partition_by=["part"])
    snap = DeltaLog(spark, p).snapshot()
    n_all = _n_input_files(snap.to_df())
    pruned = pruned_scan(snap, [("part", "=", "1")])
    assert _n_input_files(pruned) < n_all
    got = sorted(r.id for r in pruned.collect())
    assert got == sorted(range(1, 900, 3))


def test_missing_stats_files_are_kept(spark, fixtures_dir):
    """The no_stats fixture has files without min/max: pruning must
    keep them (conservative), and rows still filter correctly."""
    snap = DeltaLog(spark, f"{fixtures_dir}/no_stats/delta").snapshot()
    cols = snap.metadata.data_columns
    c = cols[0]
    full = snap.to_df()
    lo = full.agg(F.min(c)).first()[0]
    pruned = pruned_scan(snap, [(c, ">=", lo)])
    assert pruned.count() == full.where(F.col(c) >= lo).count()
    assert _n_input_files(pruned) == _n_input_files(full)  # nothing skippable


def test_dv_rows_stay_deleted_through_pruned_scan(spark, range_table):
    soft_delete(spark, range_table, "id = 4242")
    snap = DeltaLog(spark, range_table).snapshot()
    pruned = pruned_scan(snap, [("id", ">=", 4240), ("id", "<=", 4244)])
    assert sorted(r.id for r in pruned.collect()) == [4240, 4241, 4243, 4244]


def test_unsupported_operator_raises(spark, range_table):
    snap = DeltaLog(spark, range_table).snapshot()
    with pytest.raises(ValueError, match="Unsupported filter operator"):
        pruned_scan(snap, [("id", "!=", 1)])
