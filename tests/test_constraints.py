"""CHECK constraints: delta.constraints.* table configuration, spec
semantics (FALSE violates, NULL passes), write-path enforcement."""

import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.constraints import (
    CheckConstraintViolation,
    add_check_constraint,
    drop_check_constraint,
)
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _mk(spark, path, vals=(1, 2, 3)):
    df = spark.createDataFrame([(v, f"r{v}") for v in vals], "k INT, s STRING")
    write_delta(df, path, mode="error")
    return df


def test_add_validate_enforce_drop(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    v = add_check_constraint(spark, path, "k_positive", "k > 0")
    assert v == 1
    snap = DeltaLog(spark, path).snapshot()
    assert snap.metadata.configuration["delta.constraints.k_positive"] == "k > 0"

    # good append passes
    good = spark.createDataFrame([(7, "x")], "k INT, s STRING")
    write_delta(good, path, mode="append")

    # violating append refused, nothing committed, no stray files
    before = DeltaLog(spark, path).snapshot()
    bad = spark.createDataFrame([(5, "y"), (-1, "z")], "k INT, s STRING")
    with pytest.raises(CheckConstraintViolation, match="k_positive.*1 rows"):
        write_delta(bad, path, mode="append")
    after = DeltaLog(spark, path).snapshot()
    assert after.version == before.version
    assert not [d for d in os.listdir(path) if d.startswith(".staging-")]
    assert after.to_df().count() == 4

    # overwrite is checked too
    with pytest.raises(CheckConstraintViolation):
        write_delta(bad, path, mode="overwrite")

    drop_check_constraint(spark, path, "k_positive")
    write_delta(bad, path, mode="append")
    assert DeltaLog(spark, path).snapshot().to_df().count() == 6


def test_add_constraint_scans_existing_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path, vals=(1, -2, 3))
    with pytest.raises(CheckConstraintViolation, match="1 existing rows"):
        add_check_constraint(spark, path, "k_positive", "k > 0")
    # nothing recorded
    assert "delta.constraints.k_positive" not in DeltaLog(
        spark, path
    ).snapshot().metadata.configuration


def test_null_passes_like_sql_check(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    add_check_constraint(spark, path, "s_prefix", "s LIKE 'r%'")
    with_null = spark.createDataFrame([(9, None)], "k INT, s STRING")
    write_delta(with_null, path, mode="append")
    assert DeltaLog(spark, path).snapshot().to_df().count() == 4


def test_bad_expression_rejected_before_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    with pytest.raises(Exception):
        add_check_constraint(spark, path, "nope", "no_such_col > 0")
    assert DeltaLog(spark, path).snapshot().version == 0


def test_duplicate_and_missing_names(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    add_check_constraint(spark, path, "c1", "k > 0")
    with pytest.raises(ValueError, match="already exists"):
        add_check_constraint(spark, path, "c1", "k > 1")
    with pytest.raises(KeyError):
        drop_check_constraint(spark, path, "c2")


def test_constraint_survives_other_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    add_check_constraint(spark, path, "k_positive", "k > 0")
    write_delta(
        spark.createDataFrame([(4, "a")], "k INT, s STRING"),
        path,
        mode="append",
    )
    conf = DeltaLog(spark, path).snapshot().metadata.configuration
    assert conf.get("delta.constraints.k_positive") == "k > 0"


def test_not_null_invariant_on_append(spark, tmp_path):
    from levi_spark.delta.constraints import NotNullViolation
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), nullable=False),
            T.StructField("s", T.StringType(), nullable=True),
        ]
    )
    df = spark.createDataFrame([(1, "a"), (2, None)], schema)
    write_delta(df, path, mode="error",
                keep_nullability=True)

    # appending NULLs into the non-nullable column is refused even when
    # the INCOMING frame claims the column nullable
    bad = spark.createDataFrame([(None, "x")], "k LONG, s STRING")
    with pytest.raises(NotNullViolation, match="'k'"):
        write_delta(bad, path, mode="append")
    snap = DeltaLog(spark, path).snapshot()
    assert snap.version == 0 and snap.to_df().count() == 2
    assert not [d for d in os.listdir(path) if d.startswith(".staging-")]

    # nullable column still takes NULLs; non-null appends pass
    write_delta(
        spark.createDataFrame([(3, None)], "k LONG, s STRING"),
        path, mode="append",
    )
    assert DeltaLog(spark, path).snapshot().to_df().count() == 3


def test_not_null_partition_column(spark, tmp_path):
    from levi_spark.delta.constraints import NotNullViolation
    from pyspark.sql import types as T

    path = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), nullable=True),
            T.StructField("p", T.StringType(), nullable=False),
        ]
    )
    write_delta(
        spark.createDataFrame([(1, "a")], schema), path, mode="error",
        partition_by=["p"], keep_nullability=True,
    )
    bad = spark.createDataFrame([(2, None)], "k LONG, p STRING")
    with pytest.raises(NotNullViolation, match="'p'"):
        write_delta(bad, path, mode="append", partition_by=["p"])


def test_staged_not_null_checker_direct(spark, tmp_path):
    """Unit-level: the staged checker flags footer null counts and
    absent required columns without a Spark job."""
    from levi_spark.delta.constraints import NotNullViolation
    from levi_spark.delta.writer import _staged_not_null_check

    staging = str(tmp_path / "stage")
    df = spark.createDataFrame([(1, "a"), (None, "b")], "k LONG, s STRING")
    df.coalesce(1).write.parquet(staging)
    with pytest.raises(NotNullViolation, match="'k'"):
        _staged_not_null_check(spark, staging, df.schema, ["k"], [])
    # absent column = all-NULL
    with pytest.raises(NotNullViolation, match="absent"):
        _staged_not_null_check(spark, staging, df.schema, ["missing"], [])
    # nullable column with nulls passes when not required
    _staged_not_null_check(spark, staging, df.schema, ["s"], [])
