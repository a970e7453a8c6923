"""Regression tests for the round-3 ADVICE findings (fixed in round 4):

1. (high) Snapshot.to_df(paths=...) must match ABSOLUTE add paths (as a
   shallow clone emits) — a relpath()-based compare silently selected
   zero files while replace_paths still tombstoned them, so any MERGE /
   purge / dedup / compact on a shallow clone dropped the matched rows.
2. (medium) clone_table must refuse deletion-vector storage types it
   cannot clone instead of treating the payload as a filesystem path.
3. (low) describe_detail's createdAt must come from metaData.createdTime
   (survives checkpoint + log expiry) rather than the earliest surviving
   commit timestamp, and must stay non-NULL on a checkpoint-only log.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.clone import clone_table
from levi_spark.delta.history import describe_detail
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge


def _rows(spark, path):
    df = DeltaLog(spark, path).snapshot().to_df()
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


# ---------------------------------------------------------------- 1: high


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


# -------------------------------------------------------------- 2: medium


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
    from levi_spark.delta.dv import soft_delete

    src = str(tmp_path / f"src_{int(shallow)}")
    write_delta(spark.range(10).select("id").repartition(2), src, mode="error",
                checkpoint_interval=None)
    soft_delete(spark, src, "id = 3", checkpoint_interval=None)
    _rewrite_dv_storage(src, "x", "bogus-payload")
    with pytest.raises(ValueError, match="storageType"):
        clone_table(spark, src, str(tmp_path / "dst"), shallow=shallow)


# ----------------------------------------------------------------- 3: low


def test_created_at_is_metadata_created_time(spark, tmp_path):
    """createdAt pins to the creation commit's metaData.createdTime and
    does not drift forward when later commits re-emit metaData."""
    p = str(tmp_path / "t")
    write_delta(spark.range(5).select("id"), p, mode="error",
                checkpoint_interval=None)
    d0 = describe_detail(spark, p).collect()[0]
    assert d0["createdAt"] is not None
    time.sleep(0.05)
    write_delta(spark.range(5, 9).select("id"), p, mode="append",
                checkpoint_interval=None)
    write_delta(spark.range(20).select("id"), p, mode="overwrite",
                checkpoint_interval=None)
    d1 = describe_detail(spark, p).collect()[0]
    assert d1["createdAt"] == d0["createdAt"]
    assert d1["lastModified"] is not None
    assert d1["createdAt"] <= d1["lastModified"]


def test_created_at_survives_checkpoint_log_expiry(spark, tmp_path):
    """After checkpointing and expiring every commit json, createdAt and
    lastModified must both be non-NULL and ordered — callers comparing
    them must not hit TypeError."""
    from levi_spark.delta.checkpoint import write_checkpoint

    p = str(tmp_path / "t")
    write_delta(spark.range(5).select("id"), p, mode="error",
                checkpoint_interval=None)
    d0 = describe_detail(spark, p).collect()[0]
    for lo in range(5, 20, 5):
        write_delta(spark.range(lo, lo + 5).select("id"), p, mode="append",
                    checkpoint_interval=None)
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
