"""VACUUM: unreferenced files are reclaimed, live ones (including DV
files) survive, retention is honored, dry-run deletes nothing."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.dv import purge_deleted, soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.vacuum import vacuum
from levi_spark.delta.writer import write_delta


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(0, 200).select(F.col("id"), (F.col("id") % 3).alias("k"))
    write_delta(df.repartition(4), p, mode="error")
    return p


def _ids(spark, p):
    return sorted(r.id for r in DeltaLog(spark, p).snapshot().to_df().collect())


def test_vacuum_after_overwrite_reclaims_old_files(spark, table):
    write_delta(
        spark.range(0, 50).select(F.col("id"), (F.col("id") % 3).alias("k")),
        table,
        mode="overwrite",
    )
    # retention window still open -> nothing deleted
    res = vacuum(spark, table, retention_hours=1.0)
    assert res["files_deleted"] == []
    # retention 0 -> old files go
    res = vacuum(spark, table, retention_hours=0.0)
    assert len(res["files_deleted"]) == 4
    assert res["bytes_reclaimed"] > 0
    assert _ids(spark, table) == list(range(50))
    # exact: only live files remain
    live = {
        r["path"]
        for r in DeltaLog(spark, table).snapshot().add_actions().select("path").collect()
    }
    on_disk = _parquet_rels(table)
    assert on_disk == live


def test_vacuum_keeps_live_dv_sidecars(spark, table):
    # ~30 deleted rows per file: past the inline cap, so every DV is a
    # deletion_vector_*.bin file
    soft_delete(spark, table, "id < 120")
    live = _dv_files(table)
    assert live
    res = vacuum(spark, table, retention_hours=0.0)
    # the DV files are referenced -> not deleted; reads still correct
    assert _dv_files(table) == live
    assert not any("deletion_vector_" in f for f in res["files_deleted"])
    assert _ids(spark, table) == list(range(120, 200))


def test_vacuum_reclaims_orphaned_dv_after_purge(spark, table):
    soft_delete(spark, table, "id < 120")
    purged = _dv_files(table)
    assert purged
    purge_deleted(spark, table)
    res = vacuum(spark, table, retention_hours=0.0)
    assert purged <= set(res["files_deleted"])
    assert _ids(spark, table) == list(range(120, 200))
    # every DV file fully gone from disk
    assert _dv_files(table) == set()


def test_dry_run_deletes_nothing(spark, table):
    write_delta(
        spark.range(0, 10).select(F.col("id"), (F.col("id") % 3).alias("k")),
        table,
        mode="overwrite",
    )
    res = vacuum(spark, table, retention_hours=0.0, dry_run=True)
    assert len(res["files_deleted"]) == 4
    assert _parquet_rels(table) >= set(res["files_deleted"])  # still on disk


def _dv_files(table: str) -> set[str]:
    return {
        n for n in os.listdir(table)
        if n.startswith("deletion_vector_") and n.endswith(".bin")
    }


def _parquet_rels(table: str) -> set[str]:
    out = set()
    for root, dirs, files in os.walk(table):
        if "_delta_log" in root:
            continue
        for n in files:
            if n.endswith(".parquet"):
                out.add(
                    os.path.normpath(
                        os.path.relpath(os.path.join(root, n), table)
                    )
                )
    return out



def test_vacuum_keeps_change_files_of_staged_commits(spark, tmp_path):
    """On a coordinated table a MERGE's commit is staged under
    ``_delta_log/_commits`` — its change-data files are referenced all
    the same and must survive a zero-retention vacuum."""
    from levi_spark.delta.changes import table_changes_cdf
    from levi_spark.delta.table import LeviTable
    from levi_spark.operators.merge import merge

    p = str(tmp_path / "t")
    write_delta(
        spark.range(0, 6).select(F.col("id"), (F.col("id") * 10).alias("v")),
        p, mode="error", coordinated=True,
    )
    src = spark.createDataFrame([(2, -2)], "id long, v long")
    (
        merge(LeviTable.for_path(spark, p), src, "t.id = s.id")
        .when_matched_update({"v": F.col("s.v")})
        .execute(emit_cdf=True)
    )
    assert os.listdir(os.path.join(p, "_delta_log", "_commits"))
    want = sorted(
        (r.id, r.v, r._change_type)
        for r in table_changes_cdf(spark, p, 0).collect()
    )
    assert want == [(2, -2, "update_postimage"), (2, 20, "update_preimage")]
    res = vacuum(spark, p, retention_hours=0.0)
    assert not any(f.startswith("_change_data") for f in res["files_deleted"])
    got = sorted(
        (r.id, r.v, r._change_type)
        for r in table_changes_cdf(spark, p, 0).collect()
    )
    assert got == want
