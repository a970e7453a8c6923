"""Type widening writes (levi_spark.delta.evolve): the metadata-only
commit, the allowed-matrix refusals, mixed narrow/wide scans, and the
coordinated-table staging path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from levi_spark.delta.evolve import widen_column
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _mk(spark, p, dtype="int"):
    df = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 3).cast(dtype).alias("v")
    )
    write_delta(df, p, mode="error")


def test_widen_is_metadata_only_and_upcasts(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    files_before = {
        n for n in os.listdir(p) if n.endswith(".parquet")
    }
    v = widen_column(spark, p, "v", "long")
    assert v == 1
    assert {
        n for n in os.listdir(p) if n.endswith(".parquet")
    } == files_before  # no data movement
    write_delta(
        spark.range(1).select(
            F.lit(99).cast("long").alias("k"),
            F.lit(5_000_000_000).cast("long").alias("v"),
        ),
        p, mode="append",
    )
    out = DeltaLog(spark, p).snapshot().to_df()
    (vf,) = [f for f in out.schema.fields if f.name == "v"]
    assert vf.dataType.simpleString() == "bigint"
    assert vf.metadata["delta.typeChanges"] == [
        {"fromType": "integer", "toType": "long", "tableVersion": 1}
    ]
    assert sorted(r.v for r in out.collect()) == [0, 3, 6, 9, 5_000_000_000]
    proto = DeltaLog(spark, p).snapshot().protocol
    assert "typeWidening" in proto["readerFeatures"]
    assert "typeWidening" in proto["writerFeatures"]


def test_widen_refusals(spark, tmp_path):
    p = str(tmp_path / "t2")
    _mk(spark, p)
    with pytest.raises(ValueError, match="not in the supported matrix"):
        widen_column(spark, p, "v", "float")
    with pytest.raises(ValueError, match="not in table schema"):
        widen_column(spark, p, "nope", "long")
    # narrowing direction refuses too
    p3 = str(tmp_path / "t3")
    _mk(spark, p3, dtype="long")
    with pytest.raises(ValueError, match="not in the supported matrix"):
        widen_column(spark, p3, "v", "integer")


def test_widen_chained_short_int_long(spark, tmp_path):
    p = str(tmp_path / "t4")
    df = spark.range(3).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).cast("short").alias("s"),
    )
    write_delta(df, p, mode="error")
    widen_column(spark, p, "s", "integer")
    widen_column(spark, p, "s", "long")
    out = DeltaLog(spark, p).snapshot().to_df()
    (sf,) = [f for f in out.schema.fields if f.name == "s"]
    assert sf.dataType.simpleString() == "bigint"
    # BOTH steps recorded, in order
    assert [c["toType"] for c in sf.metadata["delta.typeChanges"]] == [
        "integer", "long",
    ]
    assert sorted(r.s for r in out.collect()) == [0, 1, 3]


def test_widen_on_coordinated_table_stages(spark, tmp_path):
    p = str(tmp_path / "t5")
    df = spark.range(3).select(
        F.col("id").alias("k"), F.col("id").cast("int").alias("v")
    )
    write_delta(
        df, p, mode="error", coordinated=True
    )
    v = widen_column(spark, p, "v", "long")
    assert v == 1
    log_dir = os.path.join(p, "_delta_log")
    assert not os.path.exists(os.path.join(log_dir, f"{1:020d}.json"))
    staged = os.listdir(os.path.join(log_dir, "_commits"))
    assert len(staged) == 1 and staged[0].startswith(f"{1:020d}.")
    out = DeltaLog(spark, p).snapshot().to_df()
    (vf,) = [f for f in out.schema.fields if f.name == "v"]
    assert vf.dataType.simpleString() == "bigint"


def test_widen_float_to_double(spark, tmp_path):
    p = str(tmp_path / "t6")
    df = spark.range(3).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).cast("float").alias("f")
    )
    write_delta(df, p, mode="error")
    widen_column(spark, p, "f", "double")
    out = DeltaLog(spark, p).snapshot().to_df()
    (ff,) = [f for f in out.schema.fields if f.name == "f"]
    assert ff.dataType.simpleString() == "double"
    assert sorted(r.f for r in out.collect()) == [0.0, 0.5, 1.0]
