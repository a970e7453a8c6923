"""The checkpoint writer carries the snapshot's whole reconciled state:
content, stats, SetTransaction watermarks and DESCRIBE DETAIL's
createdAt survive log expiry."""

import os
import time

from levi_spark.delta.checkpoint import expire_log, write_checkpoint
from levi_spark.delta.history import describe_detail
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _mk(spark, path):
    write_delta(
        spark.createDataFrame(
            [(i, f"s{i}", float(i)) for i in range(40)],
            "k LONG, s STRING, v DOUBLE",
        ).repartition(4),
        path, mode="error",
    )
    write_delta(
        spark.createDataFrame([(100, "x", 1.0)], "k LONG, s STRING, v DOUBLE"),
        path, mode="append",
        txn=("app-a", 7),
    )


def _content(spark, path):
    df = DeltaLog(spark, path).snapshot().to_df()
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def test_fast_path_equals_distributed_checkpoint(spark, tmp_path):
    """Checkpoint, then expire every commit: the table reads the same
    content from the checkpoint alone and keeps the SetTransaction
    watermark."""
    path = str(tmp_path / "t")
    _mk(spark, path)
    want = _content(spark, path)
    assert write_checkpoint(spark, path) == 1
    assert expire_log(spark, path) == [0, 1]
    assert _content(spark, path) == want
    assert DeltaLog(spark, path).snapshot().txn_versions() == {"app-a": 7}


def test_fast_path_checkpoint_stats_preserved(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    write_checkpoint(spark, path)
    expire_log(spark, path)
    adds = DeltaLog(spark, path).snapshot().add_actions().collect()
    assert all(a["num_records"] is not None for a in adds)
    # empty part files legitimately carry no min/max
    ks = [
        a["stats"]["minValues"]["k"] for a in adds if a["num_records"] > 0
    ]
    assert ks and min(ks) == 0 and max(ks) == 100


def test_describe_detail(spark, tmp_path):
    from pyspark.sql import functions as F

    from levi_spark.delta.history import describe_detail
    from levi_spark.delta.writer import write_delta

    p = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("part")
    )
    write_delta(df.repartition(2), p, mode="error", partition_by=["part"])
    write_delta(df.where("k < 2").select("k", "part"), p, mode="append")
    row = describe_detail(spark, p).collect()[0]
    assert row.format == "delta" and row.partitionColumns == ["part"]
    assert row.numFiles >= 3 and row.sizeInBytes > 0
    assert row.createdAt <= row.lastModified
    assert row.location.endswith("/t")


def test_created_at_is_metadata_created_time(spark, tmp_path):
    """createdAt pins to the creation commit's metaData.createdTime and
    does not drift forward when later commits re-emit metaData."""
    p = str(tmp_path / "t")
    write_delta(spark.range(5).select("id"), p, mode="error")
    d0 = describe_detail(spark, p).collect()[0]
    assert d0["createdAt"] is not None
    time.sleep(0.05)
    write_delta(spark.range(5, 9).select("id"), p, mode="append")
    write_delta(spark.range(20).select("id"), p, mode="overwrite")
    d1 = describe_detail(spark, p).collect()[0]
    assert d1["createdAt"] == d0["createdAt"]
    assert d1["lastModified"] is not None
    assert d1["createdAt"] <= d1["lastModified"]


def test_created_at_survives_checkpoint_log_expiry(spark, tmp_path):
    """After checkpointing and expiring every commit json, createdAt and
    lastModified must both be non-NULL and ordered — callers comparing
    them must not hit TypeError."""
    p = str(tmp_path / "t")
    write_delta(spark.range(5).select("id"), p, mode="error")
    d0 = describe_detail(spark, p).collect()[0]
    for lo in range(5, 20, 5):
        write_delta(spark.range(lo, lo + 5).select("id"), p, mode="append")
    log = DeltaLog(spark, p)
    v = log.snapshot().version
    write_checkpoint(spark, p, v)
    # expire every commit json (simulating log retention cleanup)
    log_dir = os.path.join(p, "_delta_log")
    for f in os.listdir(log_dir):
        if f.endswith(".json") and not f.endswith("_last_checkpoint"):
            os.remove(os.path.join(log_dir, f))
    d1 = describe_detail(spark, p).collect()[0]
    assert d1["createdAt"] == d0["createdAt"]
    assert d1["lastModified"] is not None
    assert d1["createdAt"] <= d1["lastModified"]
