"""Checkpoint writer + log expiry: the other half of log replay.

The reader (:mod:`levi_spark.delta.log`) already consumes checkpoints
(fixtures ``with_checkpoint`` / ``no_replay``); this module produces
them, which is what makes log truncation safe: snapshot reconstruction
cost stays O(files) instead of O(history), and commits older than the
checkpoint can be deleted (Delta's metadata-cleanup behavior the
``no_replay`` fixture demonstrates).

A checkpoint is the snapshot's replayed state — the live adds, the
latest metaData and protocol, the latest SetTransaction per appId and
the live domainMetadata — assembled on the driver and written with
pyarrow under Spark's own arrow schema for ``COMMIT_SCHEMA``: no Spark
job. A log that does not replay (a torn commit, say) raises before any
checkpoint file is written, so :func:`expire_log` can never make a
lossy state permanent.
"""

from __future__ import annotations

import io
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from levi_spark.delta.log import COMMIT_SCHEMA, DeltaLog


def _checkpoint_actions(snap) -> list[dict]:
    """The actions a checkpoint of ``snap`` carries, one per dict in
    COMMIT_SCHEMA shape: the live adds, the latest metaData and
    protocol, the latest SetTransaction per appId and the live
    domainMetadata (:meth:`Snapshot._log_state`)."""
    st = snap._log_state()
    acts = [("add", r["add"]) for r in snap.live_adds_collected()]
    acts += [
        (k, a) for k, a in (("metaData", st.metadata), ("protocol", st.protocol))
        if a is not None
    ]
    acts += [("txn", st.txns[k]) for k in sorted(st.txns)]
    acts += [("domainMetadata", st.domains[k]) for k in sorted(st.domains)]
    return [{k: a.asDict(recursive=True)} for k, a in acts]


def _write_parquet(log: DeltaLog, rows: list[dict], dst: str) -> None:
    """``rows`` as a COMMIT_SCHEMA parquet file at ``dst``, written to a
    temp name and renamed so no reader sees a partial file."""
    buf = io.BytesIO()
    pq.write_table(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(COMMIT_SCHEMA)), buf
    )
    tmp = os.path.join(log.log_path, f".cp-tmp-{uuid.uuid4().hex}.parquet")
    log.fs.write_bytes(tmp, buf.getvalue())
    log.fs.replace(tmp, dst)


def _write_last_checkpoint(log: DeltaLog, v: int, size: int) -> None:
    log.fs.write_text(
        os.path.join(log.log_path, "_last_checkpoint"),
        json.dumps({"version": v, "size": size}) + "\n",
    )


def write_checkpoint(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    format: str = "classic",
) -> int:
    """Write a checkpoint + ``_last_checkpoint`` for the snapshot at
    ``version`` (default: latest). Returns the checkpointed version.

    ``format="classic"`` writes the single-file
    ``<v>.checkpoint.parquet``; ``format="v2"`` writes the spec's v2
    shape — add actions in a ``_delta_log/_sidecars/<uuid>.parquet``
    file, plus a ``<v>.checkpoint.<uuid>.json`` manifest carrying the
    non-file actions, a ``checkpointMetadata`` action, and the
    ``sidecar`` reference. Note: spec-conformant *foreign* readers
    only look for v2 checkpoints on tables whose protocol carries the
    ``v2Checkpoint`` reader feature; this engine's reader discovers
    both shapes regardless.

    On a coordinated table the commits up to the checkpointed version
    are backfilled first: a checkpoint covers only backfilled commits
    (the coordinated-commits rule), and the reader ignores staged
    commits at or below the newest checkpoint."""
    from levi_spark.delta.writer import backfill_commits

    if format not in ("classic", "v2"):
        raise ValueError(f"checkpoint format must be 'classic' or 'v2', got {format!r}")
    log = DeltaLog(spark, table_path)
    snap = log.snapshot(version)
    if format == "v2":
        snap = _require_v2_checkpoint_feature(log, snap)
    rows = _checkpoint_actions(snap)
    v = snap.version
    backfill_commits(log.table_path, up_to=v)
    if format == "v2":
        _write_checkpoint_v2(log, v, rows)
    else:
        _write_parquet(
            log, rows, os.path.join(log.log_path, f"{v:020d}.checkpoint.parquet")
        )
    _write_last_checkpoint(log, v, len(rows))
    return v


def _require_v2_checkpoint_feature(log: DeltaLog, snap):
    """``snap``, or — for a table without the ``v2Checkpoint`` reader
    feature — the snapshot after a protocol-upgrade commit adding it."""
    from levi_spark.delta.writer import _write_commit, merge_protocol

    # A v2 checkpoint is only discoverable by spec-conforming foreign
    # readers when the table protocol declares the v2Checkpoint
    # feature — and after log expiry it is the ONLY route to the
    # state, so writing one without the feature could strand such
    # readers. Upgrade the protocol in its own commit first — one
    # that never auto-checkpoints, since the caller checkpoints it.
    proto = snap.protocol
    if (
        proto.get("minReaderVersion", 1) < 3
        or "v2Checkpoint" not in (proto.get("readerFeatures") or [])
    ):
        req_reader = ["v2Checkpoint"]
        if snap.metadata.column_mapping_mode != "none":
            req_reader.append("columnMapping")
        new_proto = merge_protocol(
            proto,
            {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": req_reader,
                "writerFeatures": ["v2Checkpoint"],
            },
        )
        _write_commit(
            log.log_path, snap.version + 1, [],
            operation="UPGRADE PROTOCOL",
            params={"feature": "v2Checkpoint"},
            metadata=snap.metadata,
            protocol=new_proto,
        )
        snap = log.snapshot()
    return snap


def _write_checkpoint_v2(log: DeltaLog, v: int, rows: list[dict]) -> None:
    """V2 checkpoint: the live adds land in one ``_sidecars`` parquet;
    the non-file actions, a ``checkpointMetadata`` action and the
    sidecar reference land in a JSON manifest."""
    sidecars_dir = os.path.join(log.log_path, "_sidecars")
    log.fs.mkdirs(sidecars_dir)
    sc_name = f"{uuid.uuid4()}.parquet"
    sc_path = os.path.join(sidecars_dir, sc_name)
    _write_parquet(log, [r for r in rows if "add" in r], sc_path)
    sc_st = log.fs.stat(sc_path)
    manifest_lines = [json.dumps(r) for r in rows if "add" not in r] + [
        json.dumps({"checkpointMetadata": {"version": v}}),
        json.dumps(
            {
                "sidecar": {
                    "path": sc_name,
                    "sizeInBytes": sc_st.size,
                    "modificationTime": sc_st.mtime_ms,
                }
            }
        ),
    ]
    manifest_name = f"{v:020d}.checkpoint.{uuid.uuid4()}.json"
    tmp = os.path.join(log.log_path, f".cp-tmp-{uuid.uuid4().hex}.json")
    log.fs.write_text(tmp, "\n".join(manifest_lines) + "\n")
    log.fs.replace(tmp, os.path.join(log.log_path, manifest_name))


def expire_log(spark: SparkSession, table_path: str, keep_last: int = 0) -> list[int]:
    """Delete commit JSONs at versions <= the newest checkpoint minus
    ``keep_last`` — safe because the checkpoint carries the reconciled
    state (the ``no_replay`` fixture's layout). Returns the deleted
    versions. Refuses to delete anything without a checkpoint. Only
    backfilled ``<v>.json`` files are deleted, never a staged commit."""
    log = DeltaLog(spark, table_path)
    commits, checkpoints = log._entries()
    if not checkpoints:
        return []
    cutoff = max(checkpoints) - keep_last
    deleted = []
    for c in commits:
        if c <= cutoff and c not in log._staged:
            log.fs.remove(os.path.join(log.log_path, f"{c:020d}.json"))
            deleted.append(c)
    return deleted
