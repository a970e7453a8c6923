"""RESTORE + TIMESTAMP AS OF: metadata-only rollback, DV detachment,
vacuumed-version refusal, and timestamp version resolution."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.dv import purge_deleted, soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.restore import (
    restore,
    snapshot_at_timestamp,
    version_at_timestamp,
)
from levi_spark.delta.vacuum import vacuum
from levi_spark.delta.writer import write_delta


def _mk(spark, path):
    write_delta(spark.range(10).select("id"), path, mode="error")  # v0
    write_delta(spark.range(10, 15).select("id"), path, mode="append")  # v1
    write_delta(spark.range(100, 103).select("id"), path, mode="overwrite")  # v2
    return DeltaLog(spark, path)


def test_restore_to_earlier_version_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    log = _mk(spark, path)
    data_files_before = {
        f for f in os.listdir(path) if f.endswith(".parquet")
    }
    r = restore(spark, path, 1)
    assert r["version"] == 3 and r["files_readded"] > 0 and r["files_removed"] > 0
    snap = DeltaLog(spark, path).snapshot()
    assert {row.id for row in snap.to_df().collect()} == set(range(15))
    # no data files were written or deleted — pure metadata
    assert {f for f in os.listdir(path) if f.endswith(".parquet")} == data_files_before
    # restore of the restore: back to v2's contents
    r2 = restore(spark, path, 2)
    assert {row.id for row in DeltaLog(spark, path).snapshot().to_df().collect()} == {
        100, 101, 102,
    }
    # restoring to the current state is a no-op
    assert restore(spark, path, r2["version"])["version"] == -1


def test_restore_detaches_dv_descriptors(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(
        spark.range(20).select("id").coalesce(2), path, mode="error",
    )  # v0
    soft_delete(spark, path, "id % 4 = 1")  # v1
    assert DeltaLog(spark, path).snapshot().to_df().count() == 15
    r = restore(spark, path, 0)
    assert r["version"] == 2
    assert DeltaLog(spark, path).snapshot().to_df().count() == 20


@pytest.mark.parametrize(
    "mod,storage", [(3, "u"), (500, "i")], ids=["file_dv", "inline_dv"]
)
def test_restore_across_purge_keeps_dvs(spark, tmp_path, mod, storage):
    """RESTORE to a delete's version after purge_deleted re-adds the
    DV-bearing files with their descriptors. A 'u' descriptor names a
    DV file that purge leaves on disk and an 'i' one names no file at
    all — neither payload is a path under the table, so neither may
    read as vacuumed."""
    path = str(tmp_path / "t")
    write_delta(spark.range(1000).select("id").coalesce(1), path,
                mode="error")  # v0
    write_delta(spark.range(1000, 2000).select("id").coalesce(1), path,
                mode="append")  # v1
    soft_delete(spark, path, f"id % {mod} = 0")  # v2
    dvs = [
        r["add"]["deletionVector"]
        for r in DeltaLog(spark, path).snapshot().live_adds_collected()
    ]
    assert [d["storageType"] for d in dvs] == [storage, storage]
    purge_deleted(spark, path)  # v3
    r = restore(spark, path, 2)
    assert r["version"] == 4 and r["files_readded"] == 2
    got = sorted(row.id for row in DeltaLog(spark, path).snapshot().to_df().collect())
    assert got == [i for i in range(2000) if i % mod != 0]


def test_restore_refuses_vacuumed_version(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk(spark, path)
    # age everything and vacuum: v0/v1 files are tombstoned and old
    for root, _d, files in os.walk(path):
        for n in files:
            p = os.path.join(root, n)
            os.utime(p, (time.time() - 9000, time.time() - 9000))
    gone = vacuum(spark, path, retention_hours=1.0)
    assert gone["files_deleted"]
    with pytest.raises(ValueError, match="vacuumed"):
        restore(spark, path, 1)
    # and nothing was committed by the failed attempt
    assert DeltaLog(spark, path).latest_version() == 2


def test_timestamp_resolution(spark, tmp_path):
    path = str(tmp_path / "t")
    log = _mk(spark, path)
    adj = dict(log.commit_timestamps())
    # adjusted stamps are strictly increasing (DeltaHistoryManager
    # contract), so resolution at each adjusted stamp is exact
    assert adj[0] < adj[1] < adj[2]
    for v in (0, 1, 2):
        assert version_at_timestamp(log, adj[v]) == v
    assert version_at_timestamp(log, adj[2] + 10_000) == 2
    with pytest.raises(ValueError, match="no commit at or before"):
        version_at_timestamp(log, adj[0] - 10_000)
    snap = snapshot_at_timestamp(spark, path, adj[2] + 10_000)
    assert {r.id for r in snap.to_df().collect()} == {100, 101, 102}


def test_timestamp_resolution_tied_commit_stamps(spark, tmp_path):
    """Commits recorded within the same millisecond: the later version
    is bumped to predecessor+1ms, so a probe at the raw shared stamp
    resolves to the EARLIER version — a later commit can never be
    visible before its raw timestamp, only after its adjusted one."""
    path = str(tmp_path / "t")
    log = _mk(spark, path)

    def _rewrite_ts(v: int, ts: int) -> None:
        p = os.path.join(log.log_path, f"{v:020d}.json")
        lines = []
        with open(p) as fh:
            for line in fh:
                a = json.loads(line)
                if "commitInfo" in a:
                    a["commitInfo"]["timestamp"] = ts
                lines.append(json.dumps(a))
        with open(p, "w") as fh:
            fh.write("\n".join(lines) + "\n")

    base = 1_700_000_000_000
    for v in (0, 1, 2):
        _rewrite_ts(v, base)  # all three commits claim the same ms
    adj = dict(log.commit_timestamps())
    assert adj == {0: base, 1: base + 1, 2: base + 2}
    assert version_at_timestamp(log, base) == 0
    assert version_at_timestamp(log, base + 1) == 1
    assert version_at_timestamp(log, base + 2) == 2


def test_timestamp_travel_on_checkpoint_only_log_raises_value_error(spark, tmp_path):
    """History expired past a checkpoint: the table stays readable by
    version but no version is addressable by time — ValueError (the
    documented class), not FileNotFoundError."""
    from levi_spark.delta.checkpoint import expire_log, write_checkpoint

    path = str(tmp_path / "t")
    log = _mk(spark, path)
    write_checkpoint(spark, path)
    expire_log(spark, path, keep_last=0)
    log = DeltaLog(spark, path)
    if log._entries()[0]:  # commits left -> scenario not reproduced
        import pytest as _p
        _p.skip("expire_log kept commit files")
    with pytest.raises(ValueError, match="no commit"):
        version_at_timestamp(log, 10**15)


def test_restore_to_timestamp(spark, tmp_path):
    from levi_spark.delta.restore import restore_to_timestamp

    path = str(tmp_path / "t")
    log = _mk(spark, path)  # v0 {0..9}, v1 {0..14}, v2 overwrite {100..102}
    adj = dict(log.commit_timestamps())
    r = restore_to_timestamp(spark, path, adj[1])
    assert r["restored_version"] == 1 and r["version"] == 3
    assert {x.id for x in DeltaLog(spark, path).snapshot().to_df().collect()} == set(
        range(15)
    )
    # restoring to "now" (current state) is a no-op
    r2 = restore_to_timestamp(spark, path, adj[2] + 10**7)
    assert r2["version"] == -1


def test_restore_keeps_coordinator_and_protocol(spark, tmp_path):
    """Restoring to a version from before the commit coordinator was
    enabled keeps the coordinator: the restore commit is staged behind
    the staged tail, so the table stays readable. The protocol is the
    union of the current and the target one, never a downgrade."""
    from levi_spark.delta.constraints import set_table_properties

    coord = "delta.coordinatedCommits.commitCoordinator-preview"
    path = str(tmp_path / "t")
    write_delta(spark.range(3).select("id"), path, mode="error")  # v0
    set_table_properties(spark, path, {coord: "filesystem"})  # v1 staged
    write_delta(spark.range(3, 5).select("id"), path, mode="append")  # v2 staged
    before = DeltaLog(spark, path).snapshot().protocol
    assert restore(spark, path, 0)["version"] == 3
    log_dir = os.path.join(path, "_delta_log")
    assert not os.path.exists(os.path.join(log_dir, f"{3:020d}.json"))
    snap = DeltaLog(spark, path).snapshot()
    assert snap.version == 3
    assert sorted(r.id for r in snap.to_df().collect()) == [0, 1, 2]
    assert snap.metadata.configuration[coord] == "filesystem"
    assert "coordinatedCommits-preview" in before["writerFeatures"]
    assert snap.protocol == before
