"""Checkpoint writer + log expiry round-trip against our own reader."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.checkpoint import expire_log, write_checkpoint
from levi_spark.delta.constraints import set_table_properties
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


@pytest.fixture()
def table(spark, tmp_path):
    """4 versions: three appends + one overwrite of part of the data."""
    p = str(tmp_path / "t")
    for i in range(3):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"), (F.col("id") % 3).alias("k")
        )
        write_delta(df, p, mode="append" if i else "error")
    write_delta(
        spark.range(1000, 1300).select(F.col("id"), (F.col("id") % 3).alias("k")),
        p,
        mode="overwrite",
    )
    return p


def test_checkpoint_roundtrip_and_expiry(spark, table):
    rows_before = sorted(r.id for r in DeltaLog(spark, table).snapshot().to_df().collect())
    v = write_checkpoint(spark, table)
    assert v == 3
    assert os.path.exists(os.path.join(table, "_delta_log", f"{v:020d}.checkpoint.parquet"))

    # fresh reader resolves through the checkpoint
    snap = DeltaLog(spark, table).snapshot()
    assert sorted(r.id for r in snap.to_df().collect()) == rows_before

    # expire all commits <= checkpoint (no_replay layout) and re-read
    deleted = expire_log(spark, table)
    assert deleted == [0, 1, 2, 3]
    log = DeltaLog(spark, table)
    assert sorted(r.id for r in log.snapshot().to_df().collect()) == rows_before
    # history before the checkpoint is gone
    with pytest.raises(Exception):
        log.snapshot(1).to_df().collect()


def test_appends_after_checkpoint(spark, table):
    write_checkpoint(spark, table)
    expire_log(spark, table)
    write_delta(
        spark.range(5000, 5050).select(F.col("id"), (F.col("id") % 3).alias("k")),
        table,
        mode="append",
    )
    snap = DeltaLog(spark, table).snapshot()
    assert snap.version == 4
    assert snap.to_df().count() == 300 + 50
    # metadata survives via the checkpoint row
    assert set(snap.metadata.data_columns) == {"id", "k"}


def test_auto_checkpoint_cadence(spark, tmp_path):
    """The table property ``delta.checkpointInterval`` sets the
    cadence: with 2 (set at v1), appends up to v5 checkpoint v2 and v4."""
    p = str(tmp_path / "t3")
    for i in range(5):
        write_delta(
            spark.range(i * 10, (i + 1) * 10).select("id"),
            p,
            mode="append" if i else "error",
        )
        if not i:
            set_table_properties(spark, p, {"delta.checkpointInterval": "2"})
    log_dir = os.path.join(p, "_delta_log")
    cps = sorted(n for n in os.listdir(log_dir) if n.endswith(".checkpoint.parquet"))
    assert cps == ["00000000000000000002.checkpoint.parquet",
                   "00000000000000000004.checkpoint.parquet"]
    # _last_checkpoint tracks the newest one; replay through it is intact
    import json
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        assert json.load(fh)["version"] == 4
    assert DeltaLog(spark, p).snapshot().to_df().count() == 50
    # expiry is now safe automatically
    assert expire_log(spark, p) == [0, 1, 2, 3, 4]
    assert DeltaLog(spark, p).snapshot().to_df().count() == 50


def test_expire_refuses_without_checkpoint(spark, tmp_path):
    p = str(tmp_path / "t2")
    write_delta(spark.range(10).select("id"), p, mode="error")
    assert expire_log(spark, p) == []
    assert DeltaLog(spark, p).snapshot().to_df().count() == 10
