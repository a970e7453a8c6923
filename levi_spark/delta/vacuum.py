"""VACUUM: reclaim data and deletion-vector files no snapshot references.

The reference leaves physical cleanup to delta-rs / OPTIMIZE guidance
(levi README.md:30); our engine's overwrite / replace_paths / purge
commits tombstone files logically but never delete bytes. This is the
missing lifecycle end: after OPTIMIZE, purge_deleted, or overwrite, the
old files stay on disk for time travel; VACUUM removes the ones older
than the retention window that the CURRENT snapshot no longer lists.

Semantics (mirrors Delta's VACUUM contract):

* a file is a candidate iff it is under the table root, is not part of
  ``_delta_log``, is a parquet data file or a ``deletion_vector_*.bin``
  file, is not referenced by the latest snapshot (live add or the DV
  file a live add's descriptor names), and its mtime is older than
  ``retention_hours``;
* change-data files (``_change_data/``, written by ``emit_cdf``
  operations) are referenced by their commit, not by any snapshot —
  they stay as long as the referencing commit JSON is still in the log
  (i.e. until ``expire_log`` drops it), then age out normally;
* time travel to versions whose files were vacuumed stops working —
  exactly Delta's documented trade-off (the ``no_replay`` fixture shows
  the same idea for the log side, handled by ``expire_log``);
* ``dry_run=True`` lists, deletes nothing.

The referenced-file set is metadata-scale (the snapshot's live adds and
their DV files, one cached collect — :meth:`Snapshot.live_adds_collected`);
the filesystem walk is driver-side, which matches the single-node
filesystem this engine runs on here. On an object store, the walk
would become a distributed listing job; the set-difference logic is
unchanged.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.roaring import dv_file
from levi_spark.delta.writer import CDC_DIR


def _referenced_cdc_files(log: DeltaLog) -> set[str]:
    """cdc paths named by any commit still present in the log — the
    backfilled JSONs and a coordinated table's staged tail alike."""
    from urllib.parse import unquote

    out: set[str] = set()
    commits, _cps = log._entries()
    for v in commits:
        for a in log.commit_actions(v):
            if "cdc" in a:
                out.add(os.path.normpath(unquote(a["cdc"]["path"])))
    return out


def vacuum(
    spark: SparkSession,
    path: str,
    retention_hours: float = 168.0,
    dry_run: bool = False,
) -> dict:
    """Delete unreferenced table files older than ``retention_hours``.

    Returns {"files_deleted": [...relative paths...], "bytes_reclaimed"}.
    """
    log = DeltaLog(spark, path)
    path = log.table_path
    fs = log.fs
    snap = log.snapshot()
    live_cdc = _referenced_cdc_files(log)

    from urllib.parse import unquote

    live_files: set[str] = set()
    for r in snap.live_adds_collected():
        add = r["add"]
        live_files.add(os.path.normpath(unquote(add["path"])))
        dv = add["deletionVector"]
        if dv is not None and dv["pathOrInlineDv"] is not None:
            f = dv_file(path, dv)  # None: inline, no file
            if f is not None:
                rp = os.path.relpath(f, path)
                # a 'p' file outside this table's directory is never a
                # candidate; only one under it needs protecting
                if not rp.startswith(".."):
                    live_files.add(os.path.normpath(rp))

    cutoff = time.time() - retention_hours * 3600.0
    doomed: list[str] = []
    bytes_reclaimed = 0

    base = path.rstrip("/")
    for root, dirs, files in fs.walk(base):
        rel_root = "." if root == base else root[len(base) + 1:]
        # never touch the log
        if rel_root == "." :
            dirs[:] = [d for d in dirs if d != "_delta_log" and not d.startswith(".")]
        for name in files:
            rel = os.path.normpath(
                name if rel_root == "." else os.path.join(rel_root, name)
            )
            if rel in live_files:
                continue
            if rel.startswith(CDC_DIR + os.sep) and rel in live_cdc:
                continue
            # only parquet data files and deletion-vector files are
            # fair game
            is_dv = name.startswith("deletion_vector_") and name.endswith(".bin")
            if not name.endswith(".parquet") and not is_dv:
                continue
            full = os.path.join(root, name)
            st = fs.stat(full)
            if st.mtime_ms / 1000.0 >= cutoff:
                continue
            doomed.append(rel)
            bytes_reclaimed += st.size
            if not dry_run:
                fs.remove(full)

    if not dry_run:
        # sweep now-empty partition/DV-prefix directories (bottom-up: deepest
        # first so an emptied child empties its parent)
        all_dirs = [r for r, _d, _f in fs.walk(base)]
        for root in sorted(all_dirs, key=len, reverse=True):
            if root == base or "_delta_log" in root:
                continue
            if not fs.listdir(root):
                fs.rmtree(root)

    return {"files_deleted": sorted(doomed), "bytes_reclaimed": bytes_reclaimed}
