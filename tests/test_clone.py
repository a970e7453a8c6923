"""CLONE TABLE: shallow (zero-copy, absolute-path adds) and deep
(byte-copy) clones — content parity, divergence isolation, DV
carry-over, and refusal contracts."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.clone import clone_table
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge


def _mk_src(spark, path):
    write_delta(
        spark.range(20).select("id", (F.col("id") * 2).alias("v")),
        path, mode="error", checkpoint_interval=None,
    )
    write_delta(
        spark.range(20, 25).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append", checkpoint_interval=None,
    )
    soft_delete(spark, path, "id % 5 = 0", checkpoint_interval=None)
    return DeltaLog(spark, path)


def test_shallow_clone_reads_source_content(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_src(spark, src)
    info = clone_table(spark, src, dst, shallow=True)
    assert info["shallow"] and info["files"] > 0 and info["version"] == 0
    # zero data files under the clone directory — truly zero-copy
    assert glob.glob(os.path.join(dst, "*.parquet")) == []
    got = {(r.id, r.v) for r in DeltaLog(spark, dst).snapshot().to_df().collect()}
    want = {(i, 2 * i) for i in range(25) if i % 5 != 0}
    assert got == want  # DV descriptors carried: deleted rows invisible


def test_shallow_clone_diverges_without_touching_source(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_src(spark, src)
    src_files_before = sorted(glob.glob(os.path.join(src, "**", "*"), recursive=True))
    clone_table(spark, src, dst, shallow=True)
    write_delta(
        spark.range(100, 103).select("id", (F.col("id") * 2).alias("v")),
        dst, mode="append", checkpoint_interval=None,
    )
    soft_delete(spark, dst, "id = 1", checkpoint_interval=None)
    # clone sees its own edits
    clone_ids = {r.id for r in DeltaLog(spark, dst).snapshot().to_df().collect()}
    assert {100, 101, 102} <= clone_ids and 1 not in clone_ids
    # source bytes and content are untouched
    assert sorted(
        glob.glob(os.path.join(src, "**", "*"), recursive=True)
    ) == src_files_before
    src_ids = {r.id for r in DeltaLog(spark, src).snapshot().to_df().collect()}
    assert 1 in src_ids and 100 not in src_ids


def test_deep_clone_is_self_contained(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_src(spark, src)
    info = clone_table(spark, src, dst, shallow=False)
    assert not info["shallow"]
    # every referenced file exists under the clone itself
    for p, _pv in DeltaLog(spark, dst).snapshot().file_infos():
        assert p.startswith(os.path.abspath(dst))
    got = {(r.id, r.v) for r in DeltaLog(spark, dst).snapshot().to_df().collect()}
    want = {(i, 2 * i) for i in range(25) if i % 5 != 0}
    assert got == want


def test_clone_of_older_version(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_src(spark, src)  # v0 initial, v1 append, v2 soft delete
    clone_table(spark, src, dst, shallow=True, version=1)
    got = {r.id for r in DeltaLog(spark, dst).snapshot().to_df().collect()}
    assert got == set(range(25))  # pre-delete snapshot


def test_clone_refuses_existing_destination(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_src(spark, src)
    clone_table(spark, src, dst, shallow=True)
    with pytest.raises(ValueError, match="already a Delta table"):
        clone_table(spark, src, dst, shallow=True)


def test_deep_clone_refuses_external_files(spark, tmp_path):
    """A shallow clone's adds are absolute — deep-cloning the shallow
    clone must refuse rather than silently re-link outside files."""
    src = str(tmp_path / "src")
    mid = str(tmp_path / "mid")
    dst = str(tmp_path / "dst")
    _mk_src(spark, src)
    clone_table(spark, src, mid, shallow=True)
    with pytest.raises(ValueError, match="re-link external file"):
        clone_table(spark, mid, dst, shallow=False)


def test_shallow_clone_of_shallow_clone(spark, tmp_path):
    """Chained shallow clones keep resolving to the original files."""
    src = str(tmp_path / "src")
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    _mk_src(spark, src)
    clone_table(spark, src, a, shallow=True)
    clone_table(spark, a, b, shallow=True)
    got = {r.id for r in DeltaLog(spark, b).snapshot().to_df().collect()}
    assert got == {i for i in range(25) if i % 5 != 0}


def _rows(spark, path):
    df = DeltaLog(spark, path).snapshot().to_df()
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def test_merge_on_shallow_clone_keeps_unmatched_rows(spark, tmp_path):
    """MERGE updating 3 of 10 keys on a shallow clone: the touched files
    are read THROUGH the absolute add paths, so the 7 unmatched rows
    survive the rewrite and the 3 matched rows carry the update."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta(
        spark.range(10).select("id", (F.col("id") * 10).alias("v")),
        src, mode="error", checkpoint_interval=None,
    )
    clone_table(spark, src, dst, shallow=True)

    source = spark.createDataFrame([(2, -2), (5, -5), (7, -7)], "id LONG, v LONG")
    t = LeviTable.for_path(spark, dst)
    (
        merge(t, source, "t.id = s.id")
        .when_matched_update({"v": F.col("s.v")})
        .execute()
    )
    got = _rows(spark, dst)
    want = sorted(
        (i, -i if i in (2, 5, 7) else i * 10) for i in range(10)
    )
    assert got == want
    # and the source table is untouched
    assert _rows(spark, src) == sorted((i, i * 10) for i in range(10))


def test_to_df_paths_filter_on_absolute_adds(spark, tmp_path):
    """to_df(paths=[one absolute add path]) on a shallow clone returns
    exactly that file's rows — not zero."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta(
        spark.range(12).select("id"), src, mode="error",
        checkpoint_interval=None,
    )
    clone_table(spark, src, dst, shallow=True)
    snap = DeltaLog(spark, dst).snapshot()
    rels = [r["path"] for r in snap.add_actions().select("path").collect()]
    assert all(os.path.isabs(p) for p in rels)
    one = snap.to_df(paths=rels[:1])
    assert 0 < one.count() <= 12
    full = snap.to_df(paths=rels)
    assert full.count() == 12


def _log_lines(path, version):
    with open(os.path.join(path, "_delta_log", f"{version:020d}.json")) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def _rewrite_dv_storage(path, storage_type, payload):
    """Rewrite the latest commit's DV descriptors to a foreign storage
    type, as a log written by another engine would carry."""
    log_dir = os.path.join(path, "_delta_log")
    versions = sorted(
        int(f[:20]) for f in os.listdir(log_dir) if f.endswith(".json")
    )
    v = versions[-1]
    lines = _log_lines(path, v)
    for d in lines:
        add = d.get("add")
        if add and add.get("deletionVector"):
            add["deletionVector"]["storageType"] = storage_type
            add["deletionVector"]["pathOrInlineDv"] = payload
    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
        f.writelines(json.dumps(d) + "\n" for d in lines)


@pytest.mark.parametrize("shallow", [True, False])
def test_clone_refuses_unknown_dv_storage(spark, tmp_path, shallow):
    """Round 5 made the spec's 'u'/'i'/'p' DV flavors clonable (see
    test_standard_dvs.py); a storage type outside the spec is still
    refused up front — before any byte is copied."""
    src = str(tmp_path / f"src_{int(shallow)}")
    write_delta(spark.range(10).select("id").repartition(2), src, mode="error",
                checkpoint_interval=None)
    soft_delete(spark, src, "id = 3", checkpoint_interval=None)
    _rewrite_dv_storage(src, "x", "bogus-payload")
    with pytest.raises(ValueError, match="storageType"):
        clone_table(spark, src, str(tmp_path / "dst"), shallow=shallow)
