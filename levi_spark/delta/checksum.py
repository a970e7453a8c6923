"""Delta version-checksum (``.crc``) files — write and validate.

Delta writers (delta-spark's ``VersionChecksum``) may drop a
``_delta_log/{version:020d}.crc`` file beside each commit: one JSON
object summarizing the post-commit snapshot — live-file count and
byte size, deletion-vector totals, the effective ``metadata`` and
``protocol`` actions, ``setTransactions`` and ``domainMetadata``.
Readers use it two ways: as an O(1) source for table-level stats
(``numFiles`` / ``tableSizeBytes`` without replaying the log) and as
an end-to-end integrity check that log replay reconstructed the same
snapshot the writer committed.

This module is both sides, derived from our own log replay
(:class:`levi_spark.delta.log.DeltaLog`):

* :func:`compute_checksum` — snapshot -> checksum dict.
* :func:`write_checksum` — persist ``{v:020d}.crc``; idempotent, and
  REFUSES (rather than overwrites) if an existing file disagrees with
  the recomputation, because a stale checksum is exactly the
  corruption the file exists to catch.
* :func:`validate_checksum` — recompute and compare field by field,
  raising ``ValueError`` naming every mismatched field.

Scale shape: everything derives from the snapshot's cached live-add
collect (one row per live file — metadata scale, the same list scan
planning uses); no data files are read. Checksum semantics per the
delta-spark CRC layout (tableSizeBytes / numFiles / numMetadata /
numProtocol / numDeletedRecordsOpt / numDeletionVectorsOpt /
metadata / protocol / setTransactions / domainMetadata); optional
fields are omitted when empty, matching the "Opt" convention.
Reference parity: the reference engine (``levi``) has no checksum
surface — delta-rs neither writes nor checks ``.crc``; this is
north-star Delta-protocol depth like
:mod:`levi_spark.delta.writer`'s v2 checkpoints.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from levi_spark.delta.log import DeltaLog

_META_REQUIRED = ("id", "format", "schemaString", "partitionColumns", "configuration")


def _raw_metadata(snap) -> dict:
    """Latest metaData action of the snapshot as a plain dict, nulls
    stripped except the spec-required fields (which stay, possibly
    empty) — so the checksum's ``metadata`` matches what a log reader
    reconstructs, byte-for-byte on ``schemaString``."""
    m = snap._log_state().metadata
    if m is None:
        raise ValueError(f"no metaData action found for {snap.log.table_path}")
    out = {}
    for k, v in m.asDict(recursive=True).items():
        if v is not None or k in _META_REQUIRED:
            out[k] = v
    out["format"] = dict(out.get("format") or {"provider": "parquet", "options": {}})
    out["format"].setdefault("provider", "parquet")
    out["format"]["options"] = dict(out["format"].get("options") or {})
    out["partitionColumns"] = list(out.get("partitionColumns") or [])
    out["configuration"] = dict(out.get("configuration") or {})
    return out


def compute_checksum(snap) -> dict:
    """Snapshot -> checksum dict (the ``.crc`` JSON body)."""
    adds = snap.live_adds_collected()
    table_size = 0
    n_dv = 0
    n_deleted = 0
    for r in adds:
        a = r["add"]
        table_size += int(a["size"] or 0)
        dv = a["deletionVector"]
        if dv is not None and dv["cardinality"] is not None:
            n_dv += 1
            n_deleted += int(dv["cardinality"])
    crc = {
        "tableSizeBytes": table_size,
        "numFiles": len(adds),
        "numMetadata": 1,
        "numProtocol": 1,
        "metadata": _raw_metadata(snap),
        "protocol": snap.protocol,
    }
    if n_dv:
        crc["numDeletedRecordsOpt"] = n_deleted
        crc["numDeletionVectorsOpt"] = n_dv
    txns = snap.txn_versions()
    if txns:
        crc["setTransactions"] = [
            {"appId": k, "version": v} for k, v in sorted(txns.items())
        ]
    domains = snap.domain_metadata()
    if domains:
        crc["domainMetadata"] = [domains[k] for k in sorted(domains)]
    return crc


def _crc_path(table_path: str, version: int) -> str:
    from levi_spark.fs import absolutize

    return os.path.join(
        absolutize(table_path), "_delta_log", f"{version:020d}.crc"
    )


def write_checksum(
    spark: SparkSession, table_path: str, version: int | None = None
) -> str:
    """Compute and persist the ``.crc`` for ``version`` (default:
    latest). Idempotent when the existing file already agrees;
    ``ValueError`` when it disagrees — an on-disk checksum that
    contradicts log replay is table corruption, not something to
    paper over. Returns the file path."""
    log = DeltaLog(spark, table_path)
    if version is None:
        version = log.latest_version()
    crc = compute_checksum(log.snapshot(version))
    p = _crc_path(table_path, version)
    if log.fs.exists(p):
        validate_checksum(spark, table_path, version)
        return p
    tmp = p + ".tmp"
    log.fs.create_exclusive(
        tmp, json.dumps(crc, separators=(",", ":")) + "\n"
    )
    log.fs.replace(tmp, p)
    return p


def validate_checksum(
    spark: SparkSession, table_path: str, version: int | None = None
) -> dict:
    """Read ``{version:020d}.crc`` and compare every field it carries
    against a fresh recomputation from log replay. Raises
    ``FileNotFoundError`` when no checksum exists and ``ValueError``
    naming each mismatched field otherwise; returns the stored dict on
    success. Unknown extra fields in the stored file are ignored
    (forward compatibility — e.g. ``txnId``, ``histogramOpt``)."""
    log = DeltaLog(spark, table_path)
    if version is None:
        version = log.latest_version()
    p = _crc_path(table_path, version)
    stored = json.loads(log.fs.read_text(p))
    fresh = compute_checksum(log.snapshot(version))
    bad = []
    for k, want in fresh.items():
        if k in ("setTransactions", "domainMetadata") and k not in stored:
            continue  # optional lists a foreign writer may not track
        have = stored.get(k)
        if k == "metadata" and isinstance(have, dict):
            # compare the load-bearing metadata fields; a foreign
            # writer may add decoration (name/description)
            sub = [
                f"metadata.{mk}"
                for mk in _META_REQUIRED
                if have.get(mk) != want.get(mk)
            ]
            bad.extend(sub)
            continue
        if have != want:
            bad.append(k)
    if bad:
        raise ValueError(
            f"checksum mismatch at version {version} of {table_path}: "
            f"fields {bad} disagree with log replay "
            f"(stored {({k: stored.get(k) for k in bad})!r})"
        )
    return stored
