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
        path, mode="error",
    )
    write_delta(
        spark.range(20, 25).select("id", (F.col("id") * 2).alias("v")),
        path, mode="append",
    )
    soft_delete(spark, path, "id % 5 = 0")
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
        dst, mode="append",
    )
    soft_delete(spark, dst, "id = 1")
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
        src, mode="error",
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
    write_delta(spark.range(10).select("id").repartition(2), src, mode="error")
    soft_delete(spark, src, "id = 3")
    _rewrite_dv_storage(src, "x", "bogus-payload")
    with pytest.raises(ValueError, match="storageType"):
        clone_table(spark, src, str(tmp_path / "dst"), shallow=shallow)


def _mk_dv_src(spark, path):
    """Two appends + a soft delete. Files are coalesced to hold many
    rows each, so the delete hits a strict subset of every file's rows
    and MUST land as deletion vectors (single-row files would be dropped
    whole via remove actions and the log would carry no DVs at all)."""
    write_delta(
        spark.range(20).select("id", (F.col("id") * 2).alias("v")).coalesce(2),
        path, mode="error",
    )
    write_delta(
        spark.range(20, 25)
        .select("id", (F.col("id") * 2).alias("v"))
        .coalesce(1),
        path, mode="append",
    )
    soft_delete(spark, path, "id % 5 = 0")
    dv_adds = [
        r
        for r in DeltaLog(spark, path).snapshot().live_adds_collected()
        if r["add"]["deletionVector"] is not None
    ]
    assert dv_adds, "fixture must actually carry DV descriptors"


def _doctor_dv(src: str, storage_type: str, absolutize: bool) -> None:
    """Rewrite every DV descriptor in the log's JSON commits to the
    given storageType (optionally absolutizing pathOrInlineDv), to
    simulate a foreign-written log."""
    for commit in sorted(glob.glob(os.path.join(src, "_delta_log", "*.json"))):
        lines = []
        with open(commit) as f:
            for line in f:
                action = json.loads(line)
                dv = (action.get("add") or {}).get("deletionVector")
                if dv and dv.get("pathOrInlineDv"):
                    dv["storageType"] = storage_type
                    if absolutize and not os.path.isabs(dv["pathOrInlineDv"]):
                        dv["pathOrInlineDv"] = os.path.join(
                            src, dv["pathOrInlineDv"]
                        )
                lines.append(json.dumps(action))
        with open(commit, "w") as f:
            f.write("\n".join(lines) + "\n")


def test_failed_deep_clone_leaves_destination_untouched(spark, tmp_path):
    """Advice #3: an unclonable DV must be detected BEFORE any data
    file is copied — a failed deep clone leaves dst with zero files,
    so a later clone to the same destination starts clean."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_dv_src(spark, src)
    _doctor_dv(src, "x", absolutize=False)  # unknown type: never clonable
    with pytest.raises(ValueError, match="storageType"):
        clone_table(spark, src, dst, shallow=False)
    leftovers = [
        p
        for p in glob.glob(os.path.join(dst, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    assert leftovers == []


def test_deep_clone_prevalidates_missing_source_file(spark, tmp_path):
    """A source data file missing on disk is also caught up front."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_dv_src(spark, src)
    # remove one live data file from disk (log still references it)
    victims = sorted(glob.glob(os.path.join(src, "*.parquet")))
    os.remove(victims[-1])
    with pytest.raises(ValueError, match="missing on disk"):
        clone_table(spark, src, dst, shallow=False)
    leftovers = [
        p
        for p in glob.glob(os.path.join(dst, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    assert leftovers == []


def test_shallow_clone_accepts_spec_p_dv(spark, tmp_path):
    """Advice #4: the spec's absolute-path DV marker 'p' is portable
    verbatim in a shallow clone; deep clone still refuses it. Uses a
    REAL standard roaring DV file (since round 5 'p' descriptors are
    decoded per the Delta spec, not as parquet sidecars)."""
    from levi_spark.delta.roaring import encode_rbm_array, write_dv_file

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    os.makedirs(os.path.join(src, "_delta_log"))
    spark.range(10).select("id").coalesce(1).write.mode("append").parquet(src)
    (data,) = [n for n in os.listdir(src) if n.endswith(".parquet")]
    deleted = [2, 5]
    blob = encode_rbm_array(deleted)
    file_bytes, offs = write_dv_file([blob])
    dv_abs = str(tmp_path / "external_dv.bin")
    with open(dv_abs, "wb") as f:
        f.write(file_bytes)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {
            "id": "t-p", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0}},
        {"add": {
            "path": data, "partitionValues": {},
            "size": os.path.getsize(os.path.join(src, data)),
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({"numRecords": 10}),
            "deletionVector": {
                "storageType": "p", "pathOrInlineDv": dv_abs,
                "offset": offs[0], "sizeInBytes": len(blob),
                "cardinality": len(deleted)}}},
    ]
    with open(os.path.join(src, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")

    info = clone_table(spark, src, dst, shallow=True)
    assert info["shallow"] and info["files"] > 0
    got = sorted(r.id for r in DeltaLog(spark, dst).snapshot().to_df().collect())
    assert got == [i for i in range(10) if i not in deleted]
    with pytest.raises(ValueError, match=r"absolute-path \('p'\)"):
        clone_table(spark, src, str(tmp_path / "deep"), shallow=False)
