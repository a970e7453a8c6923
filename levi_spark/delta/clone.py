"""CLONE TABLE — zero-copy (shallow) and file-copy (deep) clones.

Mirrors Databricks' ``CREATE TABLE ... [SHALLOW|DEEP] CLONE``:

* **Shallow**: the clone's version-0 commit re-emits the source
  snapshot's add actions with ABSOLUTE paths into the source table —
  stats, partition values and deletion-vector descriptors included.
  Zero bytes of data move and no Spark job runs: the commit is
  O(live files) of driver-side metadata. Reads of the clone scan the
  source's files directly; writes to the clone land as ordinary
  relative-path files under the clone's own directory, so the clone
  diverges without ever touching the source (the Delta spec allows
  mixed relative/absolute add paths — our reader resolves both).
  At 100 TB this is THE way to fork a table for an experiment: the
  alternative copies the lake.

* **Deep**: live data files (and deletion-vector files) are copied
  byte-for-byte and the same add actions re-emitted with their
  original relative paths — no row is ever re-encoded, so the work is
  a distcp-style transfer, not a read-decode-write of the dataset.
  CDC replication's bootstrap (:mod:`levi_spark.operators.replicate`)
  is this operation plus a ``txn`` action.

Both flavors preserve the source's schemaString, partitionColumns and
configuration verbatim (a clone of a column-mapped or
constraint-bearing table keeps those semantics); the table id is
fresh, and history does NOT follow the clone — its log starts at
version 0, exactly like Delta's CLONE.

Known hazard (same as Delta's documented one): VACUUM on the SOURCE
table can reclaim files a shallow clone still references — the
source's log no longer knows about the clone. Deep-clone (or
re-clone) before vacuuming a shallow clone's source. VACUUM on the
clone itself is safe: absolute references outside the clone's
directory are never reclaim candidates.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace
from urllib.parse import quote, unquote

from pyspark.sql import SparkSession

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.roaring import dv_file
from levi_spark.fs import absolutize, copy_file, fs_for


def clone_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    shallow: bool = True,
    version: int | None = None,
    extra_action_lines: list[str] | None = None,
) -> dict:
    """Clone ``src_path``'s snapshot (latest, or ``version``) into a
    fresh Delta table at ``dst_path``. Returns
    ``{"version": 0, "files": n, "bytes": total, "shallow": bool}``.

    ``extra_action_lines`` lets a caller append raw action JSON lines
    (e.g. a ``txn`` marker) into the clone commit atomically.
    Raises ``ValueError`` if ``dst_path`` is already a Delta table, or
    for a DEEP clone of a source whose adds reference external
    (absolute/URI) files that cannot be re-linked locally.
    """
    from levi_spark.delta.writer import commit

    src_log = DeltaLog(spark, src_path)
    snap = src_log.snapshot(version)
    meta = snap.metadata
    dst_path = absolutize(dst_path)
    dfs = fs_for(dst_path)
    if DeltaLog.exists(dst_path):
        raise ValueError(f"destination is already a Delta table: {dst_path}")

    adds = [r["add"] for r in snap.live_adds_collected()]
    total_bytes = sum(a["size"] or 0 for a in adds)
    dfs.mkdirs(dst_path)

    out_adds: list[dict] = []
    if shallow:
        for a in adds:
            rel = unquote(a["path"])
            # absolute path into the SOURCE table, percent-encoded the
            # way the spec encodes add paths (reader unquotes)
            abs_path = (
                rel
                if os.path.isabs(rel) or "://" in rel
                else os.path.join(src_log.table_path, rel)
            )
            dv = a["deletionVector"]
            abs_dv = None
            dv_storage = None
            if dv is not None and dv["pathOrInlineDv"]:
                _require_path_dv(dv, shallow=True)
                abs_dv = dv["pathOrInlineDv"]  # 'i' / 'p': portable verbatim
                if dv["storageType"] == "u":
                    # relative-UUID DV: resolves against the TABLE dir,
                    # which for the clone would be the wrong table —
                    # rewrite to the spec's absolute marker 'p' pointing
                    # into the source
                    abs_dv = dv_file(src_log.table_path, dv)
                    dv_storage = "p"
            out_adds.append(
                _add_dict(a, quote(abs_path, safe="/"), abs_dv, dv_storage)
            )
    else:
        # Validate EVERY add and DV descriptor (relinkability, storage
        # type, source existence) in a full pass BEFORE the first byte
        # is copied: a failure must leave dst_path untouched, not
        # strewn with orphan data files that a later clone to the same
        # destination would silently merge over.
        rels: list[str] = []
        # per add: (emitted pathOrInlineDv, table-relative file to copy
        # or None for inline)
        dv_plans: list[tuple[str, str | None] | None] = []
        for a in adds:
            rel = unquote(a["path"])
            if os.path.isabs(rel) or "://" in rel:
                raise ValueError(
                    f"deep clone cannot re-link external file: {rel}"
                )
            if not src_log.fs.exists(os.path.join(src_log.table_path, rel)):
                raise ValueError(
                    f"deep clone source file missing on disk: {rel}"
                )
            dv = a["deletionVector"]
            plan = None
            if dv is not None and dv["pathOrInlineDv"]:
                _require_path_dv(dv, shallow=False)
                # 'u' resolves relative to the table dir: copy the file
                # under the same relative name and emit the descriptor
                # verbatim; 'i' is inline, nothing to copy
                f = dv_file(src_log.table_path, dv)
                if f is not None and not src_log.fs.exists(f):
                    raise ValueError(f"deep clone DV file missing on disk: {f}")
                plan = (
                    dv["pathOrInlineDv"],
                    f and os.path.relpath(f, src_log.table_path),
                )
            rels.append(rel)
            dv_plans.append(plan)
        copied_dv: set[str] = set()
        for a, rel, plan in zip(adds, rels, dv_plans):
            dst_f = os.path.join(dst_path, rel)
            dfs.mkdirs(os.path.dirname(dst_f))
            copy_file(os.path.join(src_log.table_path, rel), dst_f)
            if plan is not None and plan[1] is not None and plan[1] not in copied_dv:
                dst_dv = os.path.join(dst_path, plan[1])
                dfs.mkdirs(os.path.dirname(dst_dv))
                copy_file(os.path.join(src_log.table_path, plan[1]), dst_dv)
                copied_dv.add(plan[1])
            out_adds.append(
                _add_dict(a, a["path"], plan[0] if plan else None)
            )

    log_dir = os.path.join(dst_path, "_delta_log")
    dfs.mkdirs(log_dir)
    # the clone inherits the SOURCE's protocol (its adds may carry
    # standard DV descriptors and its configuration may enable column
    # mapping — a default {1,2} protocol would make the clone
    # spec-invalid for foreign readers) and configuration (so an
    # inCommitTimestamps source makes a stamped version 0), under a
    # fresh table id and creation time
    commit(
        log_dir, 0,
        [{"add": a} for a in out_adds]
        + [json.loads(ln) for ln in extra_action_lines or []],
        operation="CLONE",
        params={
            "source": src_log.table_path,
            "sourceVersion": str(snap.version),
            "isShallow": str(bool(shallow)).lower(),
        },
        metadata=replace(meta, id=None, created_time=None),
        protocol=snap.protocol,
    )
    return {
        "version": 0,
        "files": len(out_adds),
        "bytes": total_bytes,
        "shallow": bool(shallow),
    }


def _require_path_dv(dv: dict, *, shallow: bool) -> None:
    """Clone supports the spec's deletion vectors: relative-UUID ('u')
    and inline ('i') ones for both flavors — a shallow clone rewrites
    'u' to an absolute 'p' into the source, a deep clone copies the DV
    file under the same relative name, and 'i' carries its payload in
    the log. A 'p' descriptor is ALREADY an absolute path: portable
    verbatim for a SHALLOW clone but not re-linkable by a deep clone's
    relative-path copy. Refuse up front, before any bytes move."""
    st = dv["storageType"]
    if st in ("u", "i") or (shallow and st == "p"):
        return
    if st == "p":
        raise ValueError(
            "deep clone cannot re-link an absolute-path ('p') deletion "
            "vector; shallow-clone it instead"
        )
    raise ValueError(
        f"clone supports storageType 'u'/'i' deletion vectors "
        f"(plus 'p' for shallow clones), got {st!r}"
    )


def _add_dict(
    a, path: str, dv_path: str | None, dv_storage: str | None = None
) -> dict:
    dv = a["deletionVector"]
    out_dv = None
    if dv is not None and dv["pathOrInlineDv"]:
        out_dv = {
            "storageType": dv_storage or dv["storageType"],
            "pathOrInlineDv": dv_path,
            "cardinality": dv["cardinality"],
        }
        # standard DV framing fields ride along when present (needed
        # to locate + verify the blob inside a shared DV file)
        for k in ("offset", "sizeInBytes"):
            if dv[k] is not None:
                out_dv[k] = dv[k]
    out = {
        "path": path,
        "partitionValues": dict(a["partitionValues"] or {}),
        "size": a["size"],
        "modificationTime": a["modificationTime"],
        "dataChange": True,
        "stats": a["stats"],
        "deletionVector": out_dv,
    }
    # row tracking rides along: the clone references the same bytes at
    # the same positions, so baseRowId/defaultRowCommitVersion remain
    # valid (the clone's high-water mark re-derives from these adds)
    for k in ("baseRowId", "defaultRowCommitVersion"):
        if a[k] is not None:
            out[k] = a[k]
    return out
