"""Row-level change data feed: recorded change files for MERGE/DELETE,
synthesized inserts/deletes for append/overwrite, lifecycle contracts
(vacuum keeps referenced change files, unrecorded rewrites raise)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.changes import table_changes_cdf
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.vacuum import vacuum
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge


def _base(spark, path):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, k string, v double",
    )
    write_delta(df, path, mode="error")
    return df


def _changes(spark, path, frm, to=None):
    return {
        (r.id, r.k, r.v, r._change_type, r._commit_version)
        for r in table_changes_cdf(spark, path, frm, to).collect()
    }


def test_merge_emits_all_four_change_types(spark, tmp_path):
    p = str(tmp_path / "t")
    _base(spark, p)
    src = spark.createDataFrame(
        [(2, "b2", 21.0), (4, None, 0.0), (5, "e", 50.0)],
        "id long, k string, v double",
    )
    res = (
        merge(LeviTable(spark, p), src.alias("s"), "t.id = s.id")
        .when_matched_delete(condition="s.k IS NULL")
        .when_matched_update(set={"k": "s.k", "v": "s.v"})
        .when_not_matched_insert(values={"id": "s.id", "k": "s.k", "v": "s.v"})
        .execute(emit_cdf=True)
    )
    assert res["version"] == 1
    assert _changes(spark, p, 0) == {
        (2, "b", 20.0, "update_preimage", 1),
        (2, "b2", 21.0, "update_postimage", 1),
        (4, "d", 40.0, "delete", 1),
        (5, "e", 50.0, "insert", 1),
    }
    # snapshot unaffected by the cdc side data
    assert sorted(r.id for r in DeltaLog(spark, p).snapshot().to_df().collect()) == [
        1, 2, 3, 5,
    ]


def test_soft_delete_emits_deletes(spark, tmp_path):
    p = str(tmp_path / "t")
    _base(spark, p)
    res = soft_delete(spark, p, "v >= 30.0", emit_cdf=True)
    assert res["rows_deleted"] == 2
    assert _changes(spark, p, 0) == {
        (3, "c", 30.0, "delete", 1),
        (4, "d", 40.0, "delete", 1),
    }


def test_append_synthesizes_inserts(spark, tmp_path):
    p = str(tmp_path / "t")
    _base(spark, p)
    write_delta(
        spark.createDataFrame([(5, "e", 50.0)], "id long, k string, v double"),
        p,
        mode="append",
    )
    assert _changes(spark, p, 0) == {(5, "e", 50.0, "insert", 1)}


def test_overwrite_synthesizes_deletes_and_inserts(spark, tmp_path):
    p = str(tmp_path / "t")
    _base(spark, p)
    write_delta(
        spark.createDataFrame([(9, "z", 90.0)], "id long, k string, v double"),
        p,
        mode="overwrite",
    )
    got = _changes(spark, p, 0)
    assert (9, "z", 90.0, "insert", 1) in got
    assert {(i, t) for i, _k, _v, t, _cv in got if t == "delete"} == {
        (1, "delete"), (2, "delete"), (3, "delete"), (4, "delete"),
    }


def test_unrecorded_merge_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    _base(spark, p)
    src = spark.createDataFrame([(2, "b2", 21.0)], "id long, k string, v double")
    merge(LeviTable(spark, p), src.alias("s"), "t.id = s.id").when_matched_update(
        set={"k": "s.k"}
    ).execute()  # no emit_cdf
    with pytest.raises(ValueError, match="emit_cdf"):
        table_changes_cdf(spark, p, 0).collect()


def test_layout_commits_are_invisible(spark, tmp_path):
    from levi_spark.operators.layout import compact_small_files

    p = str(tmp_path / "t")
    _base(spark, p)
    write_delta(
        spark.createDataFrame([(5, "e", 50.0)], "id long, k string, v double"),
        p,
        mode="append",
    )
    compact_small_files(spark, p, small_bytes=10**9, target_bytes=10**9)
    # the OPTIMIZE commit (v2) re-adds all rows; the feed must not echo them
    assert _changes(spark, p, 1) == set()
    assert _changes(spark, p, 0) == {(5, "e", 50.0, "insert", 1)}


def test_vacuum_keeps_referenced_change_files(spark, tmp_path):
    p = str(tmp_path / "t")
    _base(spark, p)
    soft_delete(spark, p, "id = 1", emit_cdf=True)
    before = _changes(spark, p, 0)
    assert before == {(1, "a", 10.0, "delete", 1)}
    res = vacuum(spark, p, retention_hours=0.0)
    assert not any(f.startswith("_change_data") for f in res["files_deleted"]), res
    assert _changes(spark, p, 0) == before


def test_multi_version_feed_is_ordered_and_complete(spark, tmp_path):
    p = str(tmp_path / "t")
    _base(spark, p)  # v0
    write_delta(
        spark.createDataFrame([(5, "e", 50.0)], "id long, k string, v double"),
        p, mode="append",
    )  # v1 insert
    soft_delete(spark, p, "id = 2", emit_cdf=True)  # v2
    src = spark.createDataFrame([(3, "c3", 33.0)], "id long, k string, v double")
    merge(LeviTable(spark, p), src.alias("s"), "t.id = s.id").when_matched_update(
        set={"k": "s.k", "v": "s.v"}
    ).execute(emit_cdf=True)  # v3
    got = _changes(spark, p, 0)
    assert got == {
        (5, "e", 50.0, "insert", 1),
        (2, "b", 20.0, "delete", 2),
        (3, "c", 30.0, "update_preimage", 3),
        (3, "c3", 33.0, "update_postimage", 3),
    }
    # windowed read: only (v2, v3]
    got23 = _changes(spark, p, 2)
    assert {cv for *_x, cv in got23} == {3}


def test_soft_delete_writes_one_change_file_per_affected_file(spark, tmp_path):
    import json
    import os
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    p = str(tmp_path / "t")
    write_delta(
        spark.range(800).repartitionByRange(8, "id"),
        p, mode="error",
    )
    res = soft_delete(spark, p, "id % 10 = 0", emit_cdf=True)
    assert res["files_affected"] == 8

    def actions(v):
        with open(os.path.join(p, "_delta_log", f"{v:020d}.json")) as f:
            return [json.loads(ln) for ln in f if ln.strip()]

    ranges = [
        (s["minValues"]["id"], s["maxValues"]["id"])
        for s in (json.loads(a["add"]["stats"]) for a in actions(0) if "add" in a)
    ]
    cdc_ids = [
        pq.read_table(os.path.join(p, unquote(a["cdc"]["path"]))).column("id").to_pylist()
        for a in actions(1) if "cdc" in a
    ]
    # the count is set by the data, not by how Spark packs the scan
    assert len(cdc_ids) == res["files_affected"]
    assert sorted(i for ids in cdc_ids for i in ids) == list(range(0, 800, 10))
    for ids in cdc_ids:
        assert any(lo <= min(ids) and max(ids) <= hi for lo, hi in ranges), ids
