"""mergeSchema appends: new columns appear, old files read as nulls,
type conflicts rejected, plain appends stay strict."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        spark.range(0, 10).select("id", F.lit("x").alias("v")),
        p,
        mode="error",
    )
    return p


def test_new_column_appends_and_backfills_null(spark, table):
    write_delta(
        spark.range(10, 15).select(
            "id", F.lit("y").alias("v"), (F.col("id") * 2).alias("extra")
        ),
        table,
        mode="append",
        merge_schema=True,
    )
    snap = DeltaLog(spark, table).snapshot()
    assert snap.metadata.data_columns == ["id", "v", "extra"]
    rows = {(r.id, r.extra) for r in snap.to_df().collect()}
    assert (3, None) in rows          # old file: null-backfilled
    assert (12, 24) in rows           # new file: real values
    assert len(rows) == 15


def test_subset_append_with_merge_schema(spark, table):
    # incoming frame omits 'v' entirely — files lack it, reads as null
    write_delta(
        spark.range(20, 23).select("id"),
        table,
        mode="append",
        merge_schema=True,
    )
    snap = DeltaLog(spark, table).snapshot()
    assert snap.metadata.data_columns == ["id", "v"]
    got = {(r.id, r.v) for r in snap.to_df().where("id >= 20").collect()}
    assert got == {(20, None), (21, None), (22, None)}


def test_type_conflict_rejected(spark, table):
    with pytest.raises(ValueError, match="type conflict"):
        write_delta(
            spark.range(0, 1).select("id", F.lit(1).alias("v")),  # v int vs string
            table,
            mode="append",
            merge_schema=True,
        )


def test_plain_append_still_strict(spark, table):
    with pytest.raises(ValueError, match="schema mismatch"):
        write_delta(
            spark.range(0, 1).select("id", F.lit("z").alias("v"), F.lit(1).alias("w")),
            table,
            mode="append",
        )


def test_stats_pruning_survives_evolution(spark, table):
    write_delta(
        spark.range(100, 110).select(
            "id", F.lit("y").alias("v"), (F.col("id") * 2).alias("extra")
        ),
        table,
        mode="append",
        merge_schema=True,
    )
    aa = DeltaLog(spark, table).snapshot().add_actions_flat()
    # old file has null min/max for 'extra'; new file carries real stats
    vals = {
        (r["`min.extra`"] if "`min.extra`" in r else r["min.extra"])
        for r in aa.select(F.col("`min.extra`")).collect()
    }
    assert None in vals and 200 in vals
