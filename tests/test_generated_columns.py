"""Delta generated columns: declared at create via
delta.generationExpression field metadata, computed on writes that omit
them, validated (null-safe) on writes that supply them, usable as
partition columns."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.constraints import CheckConstraintViolation
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _base(spark):
    return spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("amount")
    )


def test_create_computes_missing_generated_column(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _base(spark), p, mode="error",
        generated={"amount_bucket": "CAST(amount / 500 AS BIGINT)"},
    )
    df = DeltaLog(spark, p).snapshot().to_df()
    got = {r.k: r.amount_bucket for r in df.collect()}
    assert got == {i: (i * 100) // 500 for i in range(10)}
    # expression recorded in the schema metadata (Delta's contract)
    meta = DeltaLog(spark, p).snapshot().metadata
    f = {x.name: x for x in meta.schema.fields}["amount_bucket"]
    assert f.metadata["delta.generationExpression"] == "CAST(amount / 500 AS BIGINT)"


def test_append_computes_and_validates(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _base(spark), p, mode="error",
        generated={"amount_bucket": "CAST(amount / 500 AS BIGINT)"},
    )
    # append WITHOUT the generated column -> computed
    write_delta(
        spark.range(10, 12).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("amount")
        ),
        p, mode="append",
    )
    # append WITH correct values -> validated, passes
    write_delta(
        spark.range(12, 13).select(
            F.col("id").alias("k"),
            (F.col("id") * 100).alias("amount"),
            F.lit(2).cast("long").alias("amount_bucket"),
        ),
        p, mode="append",
    )
    got = {r.k: r.amount_bucket for r in DeltaLog(spark, p).snapshot().to_df().collect()}
    assert got[10] == 2 and got[11] == 2 and got[12] == 2 and len(got) == 13


def test_append_with_wrong_values_rejected_atomically(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _base(spark), p, mode="error",
        generated={"amount_bucket": "CAST(amount / 500 AS BIGINT)"},
    )
    v_before = DeltaLog(spark, p).latest_version()
    with pytest.raises(CheckConstraintViolation, match="generation expression"):
        write_delta(
            spark.range(20, 22).select(
                F.col("id").alias("k"),
                (F.col("id") * 100).alias("amount"),
                F.lit(999).cast("long").alias("amount_bucket"),
            ),
            p, mode="append",
        )
    assert DeltaLog(spark, p).latest_version() == v_before
    assert DeltaLog(spark, p).snapshot().to_df().count() == 10
    # no orphan staging dirs
    assert not [n for n in os.listdir(p) if n.startswith(".staging-")]


def test_generated_partition_column_prunes(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _base(spark), p, mode="error",
        partition_by=["amount_bucket"],
        generated={"amount_bucket": "CAST(amount / 500 AS BIGINT)"},
    )
    write_delta(
        spark.range(10, 14).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("amount")
        ),
        p, mode="append",
    )
    snap = DeltaLog(spark, p).snapshot()
    # partition values landed in the log per file
    pvs = {pv["amount_bucket"] for _p, pv in snap.file_infos()}
    assert pvs == {"0", "1", "2"}
    got = {r.k for r in snap.to_df().where(F.col("amount_bucket") == 2).collect()}
    assert got == {10, 11, 12, 13}


def test_create_with_supplied_wrong_values_rejected(spark, tmp_path):
    p = str(tmp_path / "t")
    with pytest.raises(CheckConstraintViolation, match="generation expression"):
        write_delta(
            _base(spark).withColumn("amount_bucket", F.lit(7).cast("long")),
            p, mode="error",
            generated={"amount_bucket": "CAST(amount / 500 AS BIGINT)"},
        )
    # nothing committed at all
    assert not os.path.isdir(os.path.join(p, "_delta_log")) or not os.listdir(
        os.path.join(p, "_delta_log")
    )


def test_append_passing_generated_param_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(_base(spark), p, mode="error")
    with pytest.raises(ValueError, match="create/overwrite"):
        write_delta(
            _base(spark), p, mode="append",
            generated={"x": "k + 1"},
        )


def test_merge_recomputes_generated_columns(spark, tmp_path):
    """MERGE on a generated-column table: inserts compute the column,
    updates that change the generation source recompute it, and the
    CDF postimage shows the recomputed value (Delta MERGE semantics —
    previously the writer's generation invariant aborted the merge)."""
    from levi_spark.delta.changes import table_changes_cdf
    from levi_spark.delta.table import LeviTable
    from levi_spark.operators.merge import merge

    p = str(tmp_path / "t")
    write_delta(
        _base(spark), p, mode="error",
        generated={"amount_bucket": "CAST(amount / 500 AS BIGINT)"},
    )
    src = spark.createDataFrame(
        [(3, 2600), (100, 900)], "k long, amount long"
    )
    info = (
        merge(LeviTable(spark, p), src, "t.k = s.k")
        .when_matched_update(set={"amount": "s.amount"})
        .when_not_matched_insert(values={"k": "s.k", "amount": "s.amount"})
        .execute(emit_cdf=True)
    )
    got = {r.k: (r.amount, r.amount_bucket) for r in
           DeltaLog(spark, p).snapshot().to_df().collect()}
    assert got[3] == (2600, 5)    # update recomputed 2600//500
    assert got[100] == (900, 1)   # insert computed 900//500
    ch = {(r.k, r._change_type): r.amount_bucket
          for r in table_changes_cdf(spark, p, info["version"] - 1,
                                     info["version"]).collect()}
    assert ch[(3, "update_preimage")] == 0      # old 300//500
    assert ch[(3, "update_postimage")] == 5     # recomputed
    assert ch[(100, "insert")] == 1


def test_overwrite_with_explicit_empty_partitioning_departitions(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("part")
    )
    write_delta(df, p, mode="error", partition_by=["part"])
    # explicit [] on overwrite: layout change to unpartitioned
    write_delta(df.select("k"), p, mode="overwrite", partition_by=[])
    snap = DeltaLog(spark, p).snapshot()
    assert snap.metadata.partition_columns == []
    assert snap.to_df().count() == 8
