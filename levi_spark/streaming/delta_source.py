"""Incremental Delta→Delta sync: our log as a streaming source.

Structured Streaming's file source cannot follow a Delta log (it would
re-read rewritten files and miss remove semantics). The engine's
change feed (:mod:`levi_spark.delta.changes`) gives exactly the
needed primitive — "rows added by data-changing commits after version
V" — so continuous ingestion becomes a pull loop:

    state = SyncState(dst_table_dir)        # persists last-seen version
    n = incremental_sync(spark, src, dst, state)   # one micro-batch

Each call reads ONLY the files added since the checkpointed version
(O(new data), never the table), appends them to ``dst`` in one commit,
and advances the checkpoint.

Exactly-once: the destination commit CARRIES the last-applied source
version as a Delta SetTransaction action (``write_delta(txn=...)``),
so "rows appended" and "window applied" are atomic. The JSON
:class:`SyncState` file is only a fast-path cache — on every call the
destination log's ``txn_versions()`` is consulted too, and the window
start is the max of both, so a crash between the destination commit
and the state-file write replays an EMPTY window instead of
duplicating rows.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from levi_spark.delta.changes import table_changes
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def sync_app_id(src_path: str) -> str:
    """SetTransaction appId under which a sync from ``src_path``
    records its progress in the destination log."""
    return f"levi-sync:{os.path.abspath(src_path)}"


class SyncState:
    """Last-synced source version, persisted as JSON next to the
    destination table. A cache only: the authoritative record is the
    SetTransaction action inside the destination commit — a crash
    between that commit and this file loses nothing."""

    def __init__(self, state_path: str):
        self.path = state_path

    def last_version(self) -> int:
        from levi_spark.fs import fs_for

        fs = fs_for(self.path)
        if not fs.exists(self.path):
            return -1
        return json.loads(fs.read_text(self.path))["last_version"]

    def advance(self, version: int) -> None:
        from levi_spark.fs import fs_for

        fs = fs_for(self.path)
        tmp = self.path + ".tmp"
        fs.write_text(tmp, json.dumps({"last_version": version}))
        fs.replace(tmp, self.path)


def _applied_version(spark: SparkSession, dst_path: str, app_id: str) -> int:
    """Last source version recorded in the destination log (or -1)."""
    if not DeltaLog.exists(dst_path):
        return -1
    return (
        DeltaLog(spark, dst_path).snapshot().txn_versions().get(app_id, -1)
    )


def incremental_sync(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    state: SyncState,
) -> dict:
    """Pull one micro-batch: append all source rows committed after the
    checkpointed version to ``dst_path``. Returns {"rows", "from_version",
    "to_version", "dst_version"} (dst_version -1 when idle)."""
    src_log = DeltaLog(spark, src_path)
    to_version = src_log.latest_version()
    app_id = sync_app_id(src_path)
    from_version = max(
        state.last_version(), _applied_version(spark, dst_path, app_id)
    )
    if from_version < 0:
        # first sync: bootstrap from the full current snapshot (the
        # change feed needs a base; versions <= to_version are captured
        # wholesale, later calls go incremental)
        snap = src_log.snapshot(to_version)
        df = snap.to_df()
        mode = "append" if DeltaLog.exists(dst_path) else "error"
        rows = df.count()
        dst_v = write_delta(
            df, dst_path, mode=mode,
            partition_by=list(snap.metadata.partition_columns),
            txn=(app_id, to_version),
        )
        state.advance(to_version)
        return {
            "rows": rows,
            "from_version": -1,
            "to_version": to_version,
            "dst_version": dst_v,
        }
    if to_version <= from_version:
        state.advance(from_version)  # refresh the cache from the log
        return {
            "rows": 0,
            "from_version": from_version,
            "to_version": to_version,
            "dst_version": -1,
        }
    ch = table_changes(spark, src_path, from_version, to_version).drop(
        "_commit_version"
    )
    rows = ch.count()
    if rows == 0:
        # nothing to append; no destination commit happens, so record
        # the empty window only in the cache — replaying it is free
        state.advance(to_version)
        return {
            "rows": 0,
            "from_version": from_version,
            "to_version": to_version,
            "dst_version": -1,
        }
    src_parts = list(src_log.snapshot(to_version).metadata.partition_columns)
    dst_v = write_delta(
        ch, dst_path, mode="append", partition_by=src_parts,
        txn=(app_id, to_version),
    )
    state.advance(to_version)
    return {
        "rows": rows,
        "from_version": from_version,
        "to_version": to_version,
        "dst_version": dst_v,
    }
