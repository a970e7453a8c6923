"""RESTORE and timestamp-based time travel — the remaining lifecycle
verbs of a Delta table (``RESTORE TABLE ... TO VERSION AS OF`` /
``TIMESTAMP AS OF``).

RESTORE is a pure METADATA operation: the new commit re-emits the add
actions of the target version that are no longer live (original stats
and deletion-vector descriptors included) and tombstones the live
files the target doesn't know — zero bytes of data move, O(files)
commit build. History is preserved: the restore is itself a new
version, so restoring a restore works, and the change is one atomic
commit.

Files the target references must still exist — a version whose files
VACUUM reclaimed cannot be restored (Delta's documented trade-off);
that surfaces as ``ValueError`` listing the missing files, before
anything is committed.

Timestamp resolution lives on :class:`DeltaLog` (commit_timestamps /
version_at_timestamp — strict predecessor+1ms monotonization, the
DeltaHistoryManager contract); this module re-exports it for API
stability. Versions whose commit JSON was expired past a checkpoint
have no timestamp and are not addressable by time.
"""

from __future__ import annotations

import os
from dataclasses import replace
from urllib.parse import unquote

from pyspark.sql import SparkSession

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.roaring import dv_file
from levi_spark.delta.writer import _COORD_PROP, commit, merge_protocol
from levi_spark.fs import fs_for


def commit_timestamps(log: DeltaLog) -> dict[int, int]:
    """{version: commit timestamp (epoch ms)} for every commit JSON
    still in the log, STRICTLY-monotonically adjusted (predecessor+1ms
    on ties — delta-spark's DeltaHistoryManager contract, so the
    timestamp->version mapping is unambiguous even when commits land
    within one clock tick). Thin wrapper over
    :meth:`DeltaLog.commit_timestamps`."""
    return dict(log.commit_timestamps())


def version_at_timestamp(log: DeltaLog, ts_ms: int) -> int:
    """Latest version committed at or before ``ts_ms``. ``ValueError``
    if the timestamp predates the earliest addressable commit."""
    try:
        return log.version_at_timestamp(ts_ms)
    except ValueError as e:
        # normalize the message to this module's historical contract
        raise ValueError(f"no commit at or before timestamp {ts_ms}: {e}") from None


def snapshot_at_timestamp(spark: SparkSession, path: str, ts_ms: int):
    """``TIMESTAMP AS OF`` read: the snapshot current as of ``ts_ms``."""
    log = DeltaLog(spark, path)
    return log.snapshot(version_at_timestamp(log, ts_ms))


def restore_to_timestamp(spark: SparkSession, path: str, ts_ms: int) -> dict:
    """``RESTORE TABLE ... TO TIMESTAMP AS OF``: resolve ``ts_ms`` to
    the version current at that time (strict monotonized commit
    timestamps) and restore to it — same metadata-only commit,
    vacuumed-version refusal, and no-op contract as
    :func:`restore`. The result dict gains ``restored_version`` (the
    version the timestamp resolved to)."""
    v = version_at_timestamp(DeltaLog(spark, path), ts_ms)
    out = restore(spark, path, v)
    out["restored_version"] = v
    return out


def restore(spark: SparkSession, path: str, version: int) -> dict:
    """Restore the table to ``version`` as a NEW commit. Returns
    {"version", "files_readded", "files_removed"}; a restore to the
    current state is a no-op (version -1, nothing committed)."""
    log = DeltaLog(spark, path)
    path = log.table_path
    cur = log.snapshot()
    if cur.metadata.configuration.get("delta.appendOnly") == "true":
        raise ValueError(
            "table is append-only (delta.appendOnly=true): RESTORE "
            "removes files committed after the target version"
        )
    tgt = log.snapshot(version)  # raises on version > latest

    tgt_adds = {r["add"]["path"]: r["add"] for r in tgt.live_adds_collected()}
    cur_adds = {r["add"]["path"]: r["add"] for r in cur.live_adds_collected()}

    # re-emit adds that are gone OR whose action changed (a deletion
    # vector attached since `version` must be detached by re-emitting
    # the old descriptor-free add)
    readd = [
        p
        for p, a in tgt_adds.items()
        if p not in cur_adds or cur_adds[p].asDict(recursive=True) != a.asDict(recursive=True)
    ]
    removes = [p for p in cur_adds if p not in tgt_adds]
    if not readd and not removes:
        return {"version": -1, "files_readded": 0, "files_removed": 0}

    missing = [p for p in readd
               if not log.fs.exists(os.path.join(path, unquote(p)))]
    for p in readd:  # target DV files must exist too ('i' has none)
        dv = tgt_adds[p]["deletionVector"]
        if dv is not None and dv["pathOrInlineDv"] is not None:
            f = dv_file(path, dv)
            if f is not None and not fs_for(f).exists(f):
                missing.append(f"{f} (deletion vector of {p})")
    if missing:
        raise ValueError(
            f"cannot restore to version {version}: {len(missing)} referenced "
            f"file(s) were vacuumed, e.g. {missing[:3]}"
        )

    import time as _time

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = []
    for p in readd:
        add = tgt_adds[p].asDict(recursive=True)
        actions.append({"add": {k: v for k, v in add.items() if v is not None}})
    for p in removes:
        actions.append(
            {"remove": {"path": p, "deletionTimestamp": now_ms, "dataChange": True}}
        )
    # metaData from the TARGET snapshot: RESTORE rolls the schema back
    # too (Delta semantics). The commit coordinator is the current
    # table's, since the staged tail must stay contiguous; the protocol
    # is never downgraded.
    conf = dict(tgt.metadata.configuration)
    conf.pop(_COORD_PROP, None)
    if _COORD_PROP in cur.metadata.configuration:
        conf[_COORD_PROP] = cur.metadata.configuration[_COORD_PROP]
    commit(
        log.log_path, cur.version + 1, actions,
        operation="RESTORE",
        params={"version": str(version)},
        metadata=replace(tgt.metadata, configuration=conf),
        protocol=merge_protocol(cur.protocol, tgt.protocol),
    )
    return {
        "version": cur.version + 1,
        "files_readded": len(readd),
        "files_removed": len(removes),
    }
