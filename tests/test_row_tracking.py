"""Delta row tracking (writer feature rowTracking + the
delta.rowTracking domain's high-water mark): fresh-id assignment,
stability under appends and DV deletes, re-minting on rewrites,
checkpoint survival, and protocol/validation contracts."""

from __future__ import annotations

import json
import os

import pytest

from levi_spark.delta.dv import purge_deleted, soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _sorted_single(df, key):
    return df.repartition(1).sortWithinPartitions(key)


def _ids(spark, path):
    snap = DeltaLog(spark, path).snapshot()
    return sorted(
        (r.id, r._row_id, r._row_commit_version)
        for r in snap.to_df(with_row_ids=True).collect()
    )


def test_create_assigns_contiguous_ids_and_protocol(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(20).selectExpr("id", "id * 3 AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    snap = DeltaLog(spark, p).snapshot()
    proto = snap.protocol
    assert proto["minWriterVersion"] == 7
    assert {"rowTracking", "domainMetadata"} <= set(proto["writerFeatures"])
    assert snap.metadata.configuration["delta.enableRowTracking"] == "true"
    assert snap.row_id_high_water_mark() == 19
    assert _ids(spark, p) == [(i, i, 0) for i in range(20)]


def test_append_continues_from_high_water_mark(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(10).selectExpr("id", "id AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    # append inherits row tracking WITHOUT re-passing the flag
    write_delta(
        _sorted_single(spark.range(10, 14).selectExpr("id", "id AS v"), "id"),
        p, mode="append",
    )
    assert _ids(spark, p) == [(i, i, 0) for i in range(10)] + [
        (i, i, 1) for i in range(10, 14)
    ]
    assert DeltaLog(spark, p).snapshot().row_id_high_water_mark() == 13


def test_dv_delete_keeps_survivor_ids_and_purge_preserves(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(30).selectExpr("id", "id AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    soft_delete(spark, p, "id % 4 = 0")
    want = [(i, i, 0) for i in range(30) if i % 4 != 0]
    assert _ids(spark, p) == want
    # purge rewrites the files but does not logically modify survivors
    # -> preserved ids (round 7; materialized columns), while the
    # rewrite's fresh base ids still advance the high-water mark
    purge_deleted(spark, p)
    assert _ids(spark, p) == want
    assert DeltaLog(spark, p).snapshot().row_id_high_water_mark() > 29


def test_overwrite_mints_above_old_mark(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(50).selectExpr("id", "id AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    write_delta(
        _sorted_single(spark.range(5).selectExpr("id", "id AS v"), "id"),
        p, mode="overwrite",
    )
    got = _ids(spark, p)
    # high-water mark is monotonic: ids never reuse the removed range
    assert got == [(i, 50 + i, 1) for i in range(5)]
    assert DeltaLog(spark, p).snapshot().row_id_high_water_mark() == 54


def test_domain_metadata_action_in_log(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(7).selectExpr("id"), "id"),
        p, mode="error", row_tracking=True,
    )
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json")) as f:
        lines = [json.loads(ln) for ln in f if ln.strip()]
    dm = [ln["domainMetadata"] for ln in lines if "domainMetadata" in ln]
    assert dm and dm[0]["domain"] == "delta.rowTracking"
    assert json.loads(dm[0]["configuration"])["rowIdHighWaterMark"] == 6
    adds = [ln["add"] for ln in lines if "add" in ln]
    assert all(
        a["baseRowId"] is not None and a["defaultRowCommitVersion"] == 0
        for a in adds
    )


def test_checkpoint_preserves_base_row_ids(spark, tmp_path):
    """baseRowId rides the add struct through a checkpoint; the
    high-water mark survives via the live-adds floor even though the
    domain action predates the checkpoint."""
    from levi_spark.delta.checkpoint import write_checkpoint

    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(12).selectExpr("id"), "id"),
        p, mode="error", row_tracking=True,
    )
    write_checkpoint(spark, p, 0)
    snap = DeltaLog(spark, p).snapshot()
    assert snap.row_id_high_water_mark() == 11
    assert _ids(spark, p) == [(i, i, 0) for i in range(12)]
    # and the NEXT append still continues past the mark
    write_delta(
        _sorted_single(spark.range(12, 15).selectExpr("id"), "id"),
        p, mode="append",
    )
    assert DeltaLog(spark, p).snapshot().row_id_high_water_mark() == 14


def test_untracked_table_yields_null_ids_and_append_flag_errors(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        spark.range(5).selectExpr("id"), p, mode="error",
    )
    rows = (
        DeltaLog(spark, p).snapshot().to_df(with_row_ids=True).collect()
    )
    assert all(r._row_id is None and r._row_commit_version is None for r in rows)
    with pytest.raises(ValueError, match="enableRowTracking"):
        write_delta(
            spark.range(5, 6).selectExpr("id"), p, mode="append",
            row_tracking=True,
        )


def test_partitioned_table_assigns_disjoint_ranges(spark, tmp_path):
    """Row ids on a partitioned write: one contiguous range per data
    file (several files across partition dirs), globally disjoint and
    covering [0, N)."""
    p = str(tmp_path / "t")
    write_delta(
        spark.range(40).selectExpr("id", "id % 4 AS part"),
        p, mode="error", row_tracking=True,
        partition_by=["part"],
    )
    snap = DeltaLog(spark, p).snapshot()
    ids = [r._row_id for r in snap.to_df(with_row_ids=True).collect()]
    assert sorted(ids) == list(range(40))
    assert snap.row_id_high_water_mark() == 39


def test_clone_preserves_row_ids(spark, tmp_path):
    """Shallow and deep clones reference the same bytes at the same
    positions, so the cloned adds keep baseRowId — ids read back
    identically from the clone."""
    from levi_spark.delta.clone import clone_table

    src = str(tmp_path / "src")
    write_delta(
        _sorted_single(spark.range(9).selectExpr("id"), "id"),
        src, mode="error", row_tracking=True,
    )
    for shallow, dst in [(True, str(tmp_path / "sh")), (False, str(tmp_path / "dp"))]:
        clone_table(spark, src, dst, shallow=shallow)
        assert _ids(spark, dst) == [(i, i, 0) for i in range(9)], shallow
        assert DeltaLog(spark, dst).snapshot().row_id_high_water_mark() == 8


def test_foreign_table_base_row_ids_read(spark, tmp_path):
    """A log written by another engine with baseRowId on its adds reads
    back with correct ids — pure add-action metadata, no engine-side
    state."""
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "_delta_log"))
    spark.range(8).select("id").coalesce(1).write.mode("append").parquet(p)
    data = [n for n in os.listdir(p) if n.endswith(".parquet")]
    schema = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}}
            ],
        }
    )
    actions = [
        {
            "protocol": {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["rowTracking", "domainMetadata"],
            }
        },
        {
            "metaData": {
                "id": "t-rt",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {"delta.enableRowTracking": "true"},
                "createdTime": 0,
            }
        },
        {
            "add": {
                "path": data[0],
                "partitionValues": {},
                "size": os.path.getsize(os.path.join(p, data[0])),
                "modificationTime": 0,
                "dataChange": True,
                "stats": json.dumps({"numRecords": 8}),
                "baseRowId": 100,
                "defaultRowCommitVersion": 0,
            }
        },
        {
            "domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": json.dumps({"rowIdHighWaterMark": 107}),
                "removed": False,
            }
        },
    ]
    with open(os.path.join(p, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    snap = DeltaLog(spark, p).snapshot()
    assert snap.row_id_high_water_mark() == 107
    got = sorted(
        (r.id, r._row_id) for r in snap.to_df(with_row_ids=True).collect()
    )
    assert got == [(i, 100 + i) for i in range(8)]


def _full_ids(spark, path):
    snap = DeltaLog(spark, path).snapshot()
    return sorted(
        (r.id, r._row_id, r._row_commit_version)
        for r in snap.to_df(with_row_ids=True).collect()
    )


def test_optimize_compaction_preserves_row_ids(spark, tmp_path):
    """Round-7 surface: OPTIMIZE stashes each survivor's id/commit
    version in the materialized columns, so a full rewrite changes NO
    row's id — and later appends still mint above the (advanced)
    high-water mark."""
    from levi_spark.operators.layout import compact_small_files

    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(40).selectExpr("id", "id AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    write_delta(
        _sorted_single(
            spark.range(40, 60).selectExpr("id", "id AS v"), "id"
        ),
        p, mode="append",
    )
    before = _full_ids(spark, p)
    res = compact_small_files(
        spark, p, small_bytes=1 << 30, target_bytes=1 << 30
    )
    assert res["files_removed"] == 2
    assert _full_ids(spark, p) == before
    # the rewrite still minted fresh base ids (spec: baseRowId always
    # assigned), so the mark advanced; new appends never collide
    assert DeltaLog(spark, p).snapshot().row_id_high_water_mark() >= 119
    write_delta(
        _sorted_single(spark.range(60, 70).selectExpr("id", "id AS v"), "id"),
        p, mode="append",
    )
    got = _full_ids(spark, p)
    assert len({g[1] for g in got}) == len(got) == 70


def test_optimize_zorder_preserves_row_ids(spark, tmp_path):
    from levi_spark.operators.layout import optimize_zorder

    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(
            spark.range(50).selectExpr("id", "(id * 7) % 50 AS v"), "id"
        ),
        p, mode="error", row_tracking=True,
    )
    before = _full_ids(spark, p)
    optimize_zorder(spark, p, ["id", "v"], n_files=4)
    assert _full_ids(spark, p) == before


def test_dv_delete_then_compact_keeps_survivor_ids(spark, tmp_path):
    """The gate's shape: DV soft-delete, then a physical rewrite —
    survivors keep both id and commit version."""
    from levi_spark.operators.layout import compact_small_files

    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(30).selectExpr("id", "id AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    write_delta(
        _sorted_single(spark.range(30, 45).selectExpr("id", "id AS v"), "id"),
        p, mode="append",
    )
    soft_delete(spark, p, "id % 5 = 0")
    want = [(i, i, 0 if i < 30 else 1) for i in range(45) if i % 5 != 0]
    assert _full_ids(spark, p) == want
    compact_small_files(spark, p, small_bytes=1 << 30, target_bytes=1 << 30)
    assert _full_ids(spark, p) == want


def test_materialized_columns_stay_physical_only(spark, tmp_path):
    """The materialized columns are config-named, live in the parquet
    files after a preserving rewrite, and never leak into the logical
    schema or plain reads."""
    from levi_spark.operators.layout import compact_small_files

    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(12).selectExpr("id", "id AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    write_delta(
        _sorted_single(spark.range(12, 20).selectExpr("id", "id AS v"), "id"),
        p, mode="append",
    )
    snap = DeltaLog(spark, p).snapshot()
    conf = snap.metadata.configuration
    mid = conf["delta.rowTracking.materializedRowIdColumnName"]
    mcv = conf["delta.rowTracking.materializedRowCommitVersionColumnName"]
    assert mid.startswith("_row_id_col_") and mcv.startswith("_row_cv_col_")
    compact_small_files(spark, p, small_bytes=1 << 30, target_bytes=1 << 30)
    snap = DeltaLog(spark, p).snapshot()
    # logical surface clean
    assert snap.to_df().columns == ["id", "v"]
    assert [f.name for f in snap.metadata.schema.fields] == ["id", "v"]
    # physical files really carry the preserved values
    files = [r["path"] for r in snap.add_actions().select("path").collect()]
    raw = spark.read.parquet(*[os.path.join(p, f) for f in files])
    assert mid in raw.columns and mcv in raw.columns
    got = sorted((r["id"], r[mid], r[mcv]) for r in raw.collect())
    assert got == [(i, i, 0 if i < 12 else 1) for i in range(20)]


def test_merge_preserves_copied_and_updated_row_ids(spark, tmp_path):
    """MERGE on a row-tracked table: rows merely COPIED by the rewrite
    keep id + commit version; UPDATED rows keep their id but re-stamp
    the commit version to the merge commit; inserted rows mint fresh
    ids; deleted rows' ids never come back."""
    from levi_spark.delta.table import LeviTable
    from levi_spark.operators.merge import merge

    p = str(tmp_path / "t")
    write_delta(
        _sorted_single(spark.range(20).selectExpr("id", "id AS v"), "id"),
        p, mode="error", row_tracking=True,
    )
    src = spark.range(15, 25).selectExpr(
        "id", "id * 100 AS v", "id % 2 = 0 AS kill"
    )
    from pyspark.sql import functions as F

    res = (
        merge(LeviTable(spark, p), src, "t.id = s.id")
        .when_matched_delete(condition=F.expr("s.kill"))
        .when_matched_update(set={"v": F.expr("s.v")})
        .when_not_matched_insert(values={"id": F.expr("s.id"), "v": F.expr("s.v")})
        .execute()
    )
    assert res["version"] >= 1
    got = {r[0]: (r[1], r[2]) for r in _full_ids(spark, p)}
    # survivors 0..14 copied: id == original, commit version 0
    for i in range(15):
        assert got[i] == (i, 0), (i, got[i])
    # 16/18 deleted; 15,17,19 updated in place: id preserved, cv = merge
    merge_v = res["version"]
    for i in (16, 18):
        assert i not in got
    for i in (15, 17, 19):
        assert got[i][0] == i and got[i][1] == merge_v, (i, got[i])
    # 20..24 inserted: fresh ids above the old mark, cv = merge commit
    for i in range(20, 25):
        assert got[i][0] >= 20 and got[i][1] == merge_v, (i, got[i])
    assert len({v[0] for v in got.values()}) == len(got)


def test_dedup_rewrites_preserve_survivor_ids(spark, tmp_path):
    """drop_duplicates / kill_duplicates loser-file rewrites keep every
    surviving row's id and commit version."""
    from levi_spark.delta.table import LeviTable
    from levi_spark.operators.dedup import (
        drop_duplicates,
        kill_duplicates,
    )

    p = str(tmp_path / "t")
    # keys 0..9 twice (duplicates), 10..19 once
    df = spark.range(30).selectExpr(
        "id", "CASE WHEN id < 20 THEN id % 10 ELSE id - 10 END AS k"
    )
    write_delta(
        _sorted_single(df, "id"),
        p, mode="error", row_tracking=True,
    )
    drop_duplicates(LeviTable(spark, p), ["k"])
    got = _full_ids(spark, p)
    # survivors: first occurrence of each dup key (ids 0..9) + uniques
    want = [(i, i, 0) for i in range(10)] + [(i, i, 0) for i in range(20, 30)]
    assert got == want

    p2 = str(tmp_path / "t2")
    write_delta(
        _sorted_single(df, "id"),
        p2, mode="error", row_tracking=True,
    )
    kill_duplicates(LeviTable(spark, p2), ["k"])
    got = _full_ids(spark, p2)
    # every dup-group member dies (ids 0..19), uniques keep their ids
    assert got == [(i, i, 0) for i in range(20, 30)]
