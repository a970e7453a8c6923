"""General MERGE builder: Delta-contract semantics + file-targeted
rewrite (only touched files change; inserts append; duplicate source
matches error)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge


def _rows(spark, p):
    return {
        (r.pk, r.v, r.tag)
        for r in DeltaLog(spark, p).snapshot().to_df().collect()
    }


@pytest.fixture()
def table(spark, tmp_path):
    p = str(tmp_path / "t")
    df = spark.range(0, 100).select(
        F.col("id").alias("pk"),
        (F.col("id") * 10).alias("v"),
        F.lit("base").alias("tag"),
    )
    write_delta(df.repartition(4), p, mode="error")
    return p


def _src(spark, rows):
    return spark.createDataFrame(rows, "pk long, v long, tombstone boolean")


def test_upsert_update_and_insert(spark, table):
    src = _src(spark, [(5, 555, False), (7, 777, False), (200, 2000, False)])
    res = (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_matched_update(set={"v": "s.v", "tag": "'updated'"})
        .when_not_matched_insert(values={"pk": "s.pk", "v": "s.v", "tag": "'inserted'"})
        .execute()
    )
    assert res["version"] == 1
    got = _rows(spark, table)
    assert (5, 555, "updated") in got and (7, 777, "updated") in got
    assert (200, 2000, "inserted") in got
    assert (6, 60, "base") in got
    assert len(got) == 101


def test_only_touched_files_rewritten(spark, table):
    snap0 = DeltaLog(spark, table).snapshot()
    by_file = {
        r["_file_name"]: r["pk"]
        for r in snap0.to_df(with_lineage=True).select("_file_name", "pk").collect()
    }
    # pick one pk; merge touching only it must preserve every file not
    # holding that pk
    target_pk = 42
    src = _src(spark, [(target_pk, -1, False)])
    res = (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_matched_update(set={"v": "s.v"})
        .execute()
    )
    assert res["files_rewritten"] == 1
    files_after = {
        r["path"]
        for r in DeltaLog(spark, table).snapshot().add_actions().select("path").collect()
    }
    # 3 of the 4 original files survive untouched
    assert len(files_after) >= 4 - 1


def test_clause_order_first_wins(spark, table):
    src = _src(spark, [(1, 111, True), (2, 222, False)])
    (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_matched_delete(condition="s.tombstone")
        .when_matched_update(set={"v": "s.v", "tag": "'u'"})
        .execute()
    )
    got = _rows(spark, table)
    assert not any(r[0] == 1 for r in got)  # deleted by first clause
    assert (2, 222, "u") in got


def test_conditional_insert_filters(spark, table):
    src = _src(spark, [(300, 1, False), (301, 2, True)])
    (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_not_matched_insert(
            values={"pk": "s.pk", "v": "s.v", "tag": "'new'"},
            condition="NOT s.tombstone",
        )
        .execute()
    )
    got = _rows(spark, table)
    assert (300, 1, "new") in got
    assert not any(r[0] == 301 for r in got)
    assert len(got) == 101


def test_duplicate_source_match_raises(spark, table):
    src = _src(spark, [(5, 1, False), (5, 2, False)])
    with pytest.raises(ValueError, match="multiple source rows"):
        (
            merge(LeviTable(spark, table), src, "t.pk = s.pk")
            .when_matched_update(set={"v": "s.v"})
            .execute()
        )


def test_insert_only_merge_appends_without_rewrite(spark, table):
    src = _src(spark, [(500, 5, False), (5, 999, False)])
    res = (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_not_matched_insert(values={"pk": "s.pk", "v": "s.v", "tag": "'n'"})
        .execute()
    )
    assert res["files_rewritten"] == 0
    got = _rows(spark, table)
    assert (500, 5, "n") in got
    assert (5, 50, "base") in got  # matched row untouched
    assert len(got) == 101


def test_no_clause_raises(spark, table):
    with pytest.raises(ValueError, match="WHEN clause"):
        merge(LeviTable(spark, table), _src(spark, []), "t.pk = s.pk").execute()


def test_merge_partitioned_table(spark, tmp_path):
    p = str(tmp_path / "pt")
    df = spark.range(0, 60).select(
        F.col("id").alias("pk"),
        (F.col("id") % 3).alias("part"),
        F.lit("base").alias("tag"),
    )
    write_delta(df, p, mode="error", partition_by=["part"])
    src = spark.createDataFrame([(9, 9 % 3), (100, 1)], "pk long, part long")
    (
        merge(LeviTable(spark, p), src, "t.pk = s.pk")
        .when_matched_update(set={"tag": "'u'"})
        .when_not_matched_insert(
            values={"pk": "s.pk", "part": "s.part", "tag": "'n'"}
        )
        .execute()
    )
    rows = {
        (r.pk, r.part, r.tag)
        for r in DeltaLog(spark, p).snapshot().to_df().collect()
    }
    assert (9, 0, "u") in rows and (100, 1, "n") in rows
    assert len(rows) == 61


def test_assignment_to_unknown_column_raises_without_evolution(spark, table):
    src = _src(spark, [(5, 555, False)])
    with pytest.raises(ValueError, match="with_schema_evolution"):
        (
            merge(LeviTable(spark, table), src, "t.pk = s.pk")
            .when_matched_update(set={"score": "s.v"})
            .execute()
        )


def test_schema_evolution_update_adds_column(spark, table):
    src = _src(spark, [(5, 555, False), (7, 777, False)])
    info = (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_matched_update(set={"v": "s.v", "score": "s.v * 2"})
        .with_schema_evolution()
        .execute()
    )
    assert info["version"] >= 1
    df = DeltaLog(spark, table).snapshot().to_df()
    assert "score" in df.columns
    got = {r.pk: (r.v, r.score) for r in df.collect()}
    assert got[5] == (555, 1110) and got[7] == (777, 1554)
    # untouched rows read the evolved column as null
    assert got[0] == (0, None)
    assert len(got) == 100


def test_schema_evolution_insert_adds_column(spark, table):
    src = _src(spark, [(200, 2000, False)])
    (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_not_matched_insert(
            values={"pk": "s.pk", "v": "s.v", "tag": "'new'", "origin": "'merge'"}
        )
        .with_schema_evolution()
        .execute()
    )
    df = DeltaLog(spark, table).snapshot().to_df()
    got = {r.pk: r.origin for r in df.collect()}
    assert got[200] == "merge" and got[0] is None and len(got) == 101


def test_schema_evolution_cdf_images_align(spark, table):
    from levi_spark.delta.changes import table_changes_cdf

    src = _src(spark, [(5, 555, False), (300, 3000, False)])
    info = (
        merge(LeviTable(spark, table), src, "t.pk = s.pk")
        .when_matched_update(set={"v": "s.v", "score": "s.v"})
        .when_not_matched_insert(
            values={"pk": "s.pk", "v": "s.v", "tag": "'new'", "score": "s.v"}
        )
        .with_schema_evolution()
        .execute(emit_cdf=True)
    )
    ch = table_changes_cdf(spark, table, info["version"] - 1, info["version"])
    by_type = {
        (r.pk, r._change_type): r.asDict() for r in ch.collect()
    }
    assert by_type[(5, "update_preimage")]["score"] is None
    assert by_type[(5, "update_postimage")]["score"] == 555
    assert by_type[(300, "insert")]["score"] == 3000
