"""Deletion-vector lifecycle: soft delete → read → more deletes →
full-file tombstone → checkpoint survival → physical purge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.checkpoint import write_checkpoint
from levi_spark.delta.dv import purge_deleted, soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _ids(spark, p):
    return sorted(r.id for r in DeltaLog(spark, p).snapshot().to_df().collect())


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("k"), (F.col("id") * 2).alias("v")
    )
    write_delta(df.repartition(4), p, mode="error")
    return p


def test_soft_delete_filters_rows_without_rewrite(spark, table):
    files_before = {
        r["path"]
        for r in DeltaLog(spark, table).snapshot().add_actions().select("path").collect()
    }
    res = soft_delete(spark, table, "id >= 200 AND id < 250")
    assert res["rows_deleted"] == 50
    assert res["files_removed"] == 0
    assert _ids(spark, table) == [i for i in range(300) if not (200 <= i < 250)]
    # no data file was rewritten
    files_after = {
        r["path"]
        for r in DeltaLog(spark, table).snapshot().add_actions().select("path").collect()
    }
    assert files_after == files_before
    # metadata plane reports the DV
    aa = DeltaLog(spark, table).snapshot().add_actions()
    assert aa.agg(F.sum("dv_cardinality")).first()[0] == 50


def test_second_delete_accumulates_and_is_idempotent(spark, table):
    soft_delete(spark, table, "id < 10")
    res2 = soft_delete(spark, table, "k = 1 AND id < 40")
    assert res2["rows_deleted"] == 10  # 10,13,...,37 minus none (none overlap id<10? 1,4,7 do overlap)
    survivors = _ids(spark, table)
    assert survivors == [i for i in range(300) if i >= 10 and not (i % 3 == 1 and i < 40)]
    # re-running the same predicate deletes nothing new
    res3 = soft_delete(spark, table, "k = 1 AND id < 40")
    assert res3["rows_deleted"] == 0 or res3["version"] == -1
    assert _ids(spark, table) == survivors


def test_full_file_delete_becomes_remove(spark, table):
    res = soft_delete(spark, table, "id >= 0")  # everything
    assert res["files_removed"] == 4
    assert _ids(spark, table) == []
    assert DeltaLog(spark, table).snapshot().add_actions().count() == 0


def test_dv_survives_checkpoint(spark, table):
    soft_delete(spark, table, "id % 10 = 0")
    expected = [i for i in range(300) if i % 10 != 0]
    v = write_checkpoint(spark, table)
    assert _ids(spark, table) == expected
    # fresh log resolving through the checkpoint keeps the DV
    snap = DeltaLog(spark, table).snapshot()
    assert snap.add_actions().agg(F.sum("dv_cardinality")).first()[0] == 30
    assert v == snap.version


def test_purge_rewrites_only_dv_files(spark, table):
    soft_delete(spark, table, "id < 75")  # hits file(s) containing low ids
    before = DeltaLog(spark, table).snapshot().add_actions()
    untouched = {
        r["path"] for r in before.where(F.col("dv_cardinality") == 0).collect()
    }
    res = purge_deleted(spark, table)
    assert res["files_rewritten"] >= 1
    after = DeltaLog(spark, table).snapshot()
    aa = after.add_actions()
    # no DVs remain, content unchanged, untouched files still live
    assert aa.where(F.col("dv_cardinality") > 0).count() == 0
    assert _ids(spark, table) == list(range(75, 300))
    live = {r["path"] for r in aa.select("path").collect()}
    assert untouched <= live
    # purging again is a no-op
    assert purge_deleted(spark, table)["version"] == -1


def test_soft_delete_on_partitioned_table(spark, tmp_path):
    p = str(tmp_path / "pt")
    df = spark.range(0, 120).select(
        F.col("id"), (F.col("id") % 4).alias("part"), F.col("id").alias("v")
    )
    write_delta(df, p, mode="error", partition_by=["part"])
    res = soft_delete(spark, p, "part = 2 AND id < 60")
    assert res["rows_deleted"] == 15
    got = sorted(
        r.id for r in DeltaLog(spark, p).snapshot().to_df().where("part = 2").collect()
    )
    assert got == [i for i in range(60, 120) if i % 4 == 2]
    # lineage surface
    lin = DeltaLog(spark, p).snapshot().to_df(with_lineage=True)
    assert {"_file_name", "_row_index"} <= set(lin.columns)


def test_path_storage_type_refused(spark, tmp_path):
    """Earlier builds wrote engine-private parquet sidecar DVs
    (``storageType: "path"``). The reader refuses one loudly rather
    than reading it as a directory of deleted keys."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    write_delta(spark.range(10).select("id").coalesce(1), p, mode="error")
    (row,) = DeltaLog(spark, p).snapshot().live_adds_collected()
    add = row["add"].asDict(recursive=True)
    # a real sidecar directory, as those builds wrote it
    rel = "dv-sidecar"
    os.makedirs(os.path.join(p, rel))
    pq.write_table(
        pa.table({"file_name": [os.path.basename(add["path"])],
                  "row_index": pa.array([3], pa.int64())}),
        os.path.join(p, rel, "part-0.parquet"),
    )
    add["deletionVector"] = {
        "storageType": "path", "pathOrInlineDv": rel, "cardinality": 1,
    }
    actions = [
        {"add": {k: v for k, v in add.items() if v is not None}},
        {"commitInfo": {"operation": "DELETE"}},
    ]
    with open(os.path.join(p, "_delta_log", f"{1:020d}.json"), "x") as f:
        f.write("".join(json.dumps(a) + "\n" for a in actions))
    with pytest.raises(ValueError, match="storageType 'path'"):
        DeltaLog(spark, p).snapshot().to_df()
