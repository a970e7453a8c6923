"""Deletion vectors: delete rows without rewriting data files.

The reference's only delete primitive is a whole-file-rewriting Delta
MERGE (``/root/reference/levi/__init__.py:157-166``) and its dedup ops
rewrite the entire table (``:347-351``). At 100 TB a point delete that
rewrites gigabyte files is the dominant cost, so this module adds the
Delta protocol's answer — deletion vectors — in the spec's own format,
so every table stays readable by any conforming Delta engine:

* ``soft_delete(spark, path, predicate)`` marks matching rows deleted
  with one roaring bitmap per affected data file — inline in the log
  ('i') when tiny, else a ``deletion_vector_<uuid>.bin`` file at the
  table root ('u'), :mod:`levi_spark.delta.roaring` — re-emits the
  affected ``add`` actions with the descriptor, and upgrades the
  protocol to minReaderVersion 3 + ``deletionVectors``. Cost is
  O(matching rows), not O(bytes of touched files). A file whose every
  row is deleted becomes a plain ``remove`` tombstone and gets no DV;
  a commit of removes only keeps the table's protocol.
* The read path (``Snapshot.to_df``) decodes the live bitmaps on the
  driver and anti-joins the scan against them on (file, row_index) via
  the parquet reader's ``_metadata.row_index`` — pushdown and partition
  pruning on the scan are untouched, and the DV frame is broadcast.
* ``purge_deleted(spark, path)`` is the compaction half: physically
  rewrites only the DV-bearing files (their surviving rows), dropping
  the descriptors — the OPTIMIZE-style "hard delete" that bounds DV
  accumulation. Scan cost is O(files with DVs), never the whole table.

Bitmaps are encoded and written by Spark executors (the doomed-key
frame is never collected); only one descriptor row per affected file
(metadata scale) comes to the driver to build the commit.

Upgrade note: earlier builds wrote engine-private parquet sidecar DVs
(``storageType: "path"``); this build refuses to read them, so a table
with live ones must be ``purge_deleted`` by the build that wrote it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import CommitConflict, commit, write_delta


def _write_standard_dvs(
    spark, table_path: str, dv_out, num_records: dict[str, int]
) -> dict[str, dict | None]:
    """Write one SPEC-CONFORMANT deletion vector per affected data file
    — a framed + CRC'd roaring-bitmap blob
    (:mod:`levi_spark.delta.roaring`) in ``deletion_vector_<uuid>.bin``
    at the table root, or inline in the log when tiny — and return
    ``file_name -> 'u'/'i' descriptor``. A file that loses at least its
    ``num_records`` rows (every row: it becomes a ``remove``) gets no DV
    and maps to None. Encoding and file writes happen
    EXECUTOR-side via applyInPandas over the file_name groups (each
    group is bounded by one data file's row count); only the per-file
    descriptor rows come back to the driver."""
    import pandas as pd

    from levi_spark.fs import executor_dir, local_form

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        import os as _os
        import uuid as _uuid

        from levi_spark.delta.roaring import (
            INLINE_DV_MAX_BYTES,
            encode_rbm_array,
            write_dv_file,
            z85_encode,
        )

        rows = []
        for fname, grp in pdf.groupby("file_name"):
            n = num_records.get(fname)
            if n is not None and len(grp) >= n:
                rows.append((fname, None, None, None, None, len(grp)))
                continue
            blob = encode_rbm_array(grp["row_index"].tolist())
            if len(blob) <= INLINE_DV_MAX_BYTES:
                # tiny bitmap: inline it in the log ('i'), no file IO —
                # the spec's small-DV optimization (z85 needs 4-byte
                # alignment; sizeInBytes recovers the true length)
                padded = blob + b"\x00" * ((-len(blob)) % 4)
                rows.append(
                    (fname, "i", z85_encode(padded), None, len(blob), len(grp))
                )
                continue
            data, offs = write_dv_file([blob])
            u = _uuid.uuid4()
            with open(_os.path.join(root, f"deletion_vector_{u}.bin"), "wb") as f:
                f.write(data)
            rows.append(
                (fname, "u", z85_encode(u.bytes), offs[0], len(blob), len(grp))
            )
        return pd.DataFrame(
            rows,
            columns=["file_name", "st", "pod", "offset", "size", "cardinality"],
        )

    # A remote URI table encodes its ``.bin`` files into a
    # driver-visible scratch, copied to the table root on exit — one
    # file per affected data file, a metadata-plane volume.
    with executor_dir(table_path, local_form(table_path), "levi_dvstage_") as root:
        desc_rows = (
            dv_out.repartition("file_name")
            .groupBy("file_name")
            .applyInPandas(
                encode,
                "file_name string, st string, pod string, offset int, size int, "
                "cardinality long",
            )
            .collect()
        )
    descs = {
        r["file_name"]: None if r["st"] is None else {
            "storageType": r["st"],
            "pathOrInlineDv": r["pod"],
            **({"offset": int(r["offset"])} if r["offset"] is not None else {}),
            "sizeInBytes": int(r["size"]),
            "cardinality": int(r["cardinality"]),
        }
        for r in desc_rows
    }
    return descs


def _standard_dv_protocol(snap) -> dict:
    """The table's protocol upgraded (never downgraded) for standard
    deletion vectors: reader/writer feature lists union in
    deletionVectors, and any active legacy reader feature — column
    mapping — is enumerated so the v3 protocol stays truthful."""
    from levi_spark.delta.writer import merge_protocol

    req_reader = ["deletionVectors"]
    if snap.metadata.column_mapping_mode != "none":
        req_reader = req_reader + ["columnMapping"]
    return merge_protocol(
        snap.protocol,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": req_reader,
            "writerFeatures": ["deletionVectors"],
        },
    )


def soft_delete(
    spark: SparkSession,
    path: str,
    predicate: str | Column,
    emit_cdf: bool = False,
) -> dict:
    """Logically delete every row matching ``predicate`` (SQL string or
    Column over the table's columns, partition columns included).

    Returns {"version", "rows_deleted", "files_affected",
    "files_removed"} — version is -1 when nothing matched (no commit).

    ``emit_cdf=True`` records the deleted rows (``_change_type =
    'delete'``) as change data in the same commit, making the DELETE
    visible to :func:`levi_spark.delta.changes.table_changes_cdf` —
    one extra pass over the matching rows, still O(matches). It writes
    one change-data file per affected data file (``files_affected``
    ``cdc`` actions), whatever the core count.

    The deletion vectors are the Delta spec's: one roaring bitmap per
    affected file, inline ('i') or in a ``deletion_vector_<uuid>.bin``
    file ('u'), and the commit's protocol is upgraded to
    minReaderVersion 3 + deletionVectors, so any conforming Delta
    reader (delta-spark included) applies them. A file that loses
    every row is removed instead and gets no DV; a commit with no DV
    left live keeps the table's protocol. The commit checkpoints when
    the table's ``delta.checkpointInterval`` says so, like every commit.
    """
    log = DeltaLog(spark, path)
    path = log.table_path
    snap = log.snapshot()
    if snap.metadata.configuration.get("delta.appendOnly") == "true":
        raise ValueError(
            "table is append-only (delta.appendOnly=true): DELETE is "
            "forbidden"
        )
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate

    # Doomed keys: already-DV'd rows are invisible to to_df, so re-deleting
    # the same predicate is a no-op commit, not a double delete.
    doomed = (
        snap.to_df(with_lineage=True)
        .where(pred)
        .select(
            F.col("_file_name").alias("file_name"),
            F.col("_row_index").alias("row_index"),
        )
    )

    # Cumulative per affected file: the file's old bitmap rows ride into
    # its new bitmap, so each add carries exactly one descriptor.
    old = snap.deletion_vector_rows().select(
        F.col("__file_name").alias("file_name"), F.col("__row_index").alias("row_index")
    )
    affected_names = doomed.select("file_name").distinct()
    dv_out = doomed.unionByName(
        old.join(F.broadcast(affected_names), on="file_name", how="left_semi")
    )

    live_adds = snap.live_adds_collected()
    num_records = {
        os.path.basename(r["add"]["path"]): json.loads(r["add"]["stats"]).get(
            "numRecords"
        )
        for r in live_adds
        if r["add"]["stats"]
    }
    descs = _write_standard_dvs(spark, path, dv_out, num_records)
    if not descs:
        return {"version": -1, "rows_deleted": 0, "files_affected": 0, "files_removed": 0}

    def _cleanup():
        from levi_spark.delta.roaring import dv_file
        from levi_spark.fs import fs_for

        for d in descs.values():
            # None: inline DVs live in the log, removed files have none
            f = dv_file(path, d) if d else None
            if f is None:
                continue
            try:
                fs_for(f).remove(f)
            except OSError:
                pass

    # Driver-side commit build over the (metadata-scale) affected adds.
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    files_removed = 0
    rows_deleted = 0
    for row in live_adds:
        add = row["add"].asDict(recursive=True)
        name = os.path.basename(add["path"])
        if name not in descs:
            continue
        dv = descs[name]
        prev_card = (add.get("deletionVector") or {}).get("cardinality") or 0
        rows_deleted += (dv["cardinality"] if dv else num_records[name]) - prev_card
        if dv is None:
            actions.append(
                {
                    "remove": {
                        "path": add["path"],
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            files_removed += 1
            continue
        add["deletionVector"] = dv
        actions.append({"add": {k: v for k, v in add.items() if v is not None}})

    if emit_cdf:
        from levi_spark.delta.log import local_frame
        from levi_spark.delta.writer import cdc_actions, write_cdc_files

        # One change-data file per affected data file: each file's
        # deleted rows go to a partition of their own by a dense id
        # (exact placement; hash partitioning can collide and a plain
        # scan packs small files by core count).
        ids = local_frame(
            spark,
            [(f, i) for i, f in enumerate(sorted(descs))],
            T.StructType(
                [
                    T.StructField("_file_name", T.StringType()),
                    T.StructField("__cdc_part", T.IntegerType()),
                ]
            ),
        )
        deleted_rows = (
            snap.to_df(with_lineage=True)
            .where(pred)
            .join(F.broadcast(ids), on="_file_name")
            .repartitionById(len(descs), "__cdc_part")
            .select(*snap.metadata.data_columns)
            .withColumn("_change_type", F.lit("delete"))
        )
        actions += cdc_actions(write_cdc_files(deleted_rows, path))

    version = snap.version + 1
    # only a commit that leaves a DV live needs the DV protocol
    keeps_dv = any("add" in a for a in actions)
    try:
        # a DV commit re-emits add actions read from its snapshot, so a
        # concurrent commit invalidates it (the retryable CommitConflict)
        commit(
            log.log_path, version, actions,
            operation="DELETE",
            params={"predicate": str(predicate)},
            metadata=snap.metadata,
            protocol=_standard_dv_protocol(snap) if keeps_dv else snap.protocol,
        )
    except CommitConflict:
        # Lost the commit race: the DV files written above are
        # unreachable from any committed version — remove them rather
        # than leaving orphans for vacuum, then surface the retry
        # contract. Any later error (the commit's checkpoint, say)
        # leaves a published version that references them.
        _cleanup()
        raise
    return {
        "version": version,
        "rows_deleted": rows_deleted,
        "files_affected": len(descs),
        "files_removed": files_removed,
    }


def purge_deleted(spark: SparkSession, path: str) -> dict:
    """Physically rewrite every DV-bearing file without its deleted
    rows, in one commit (new files + tombstones via the writer's
    ``replace_paths`` primitive). Untouched files keep their stats.
    Returns {"version", "files_rewritten"} (version -1 if no DVs)."""
    log = DeltaLog(spark, path)
    path = log.table_path
    snap = log.snapshot()
    from urllib.parse import unquote

    dv_paths = [
        unquote(r["add"]["path"])
        for r in snap.live_adds_collected()
        if r["add"]["deletionVector"] is not None
        and r["add"]["deletionVector"]["pathOrInlineDv"] is not None
    ]
    if not dv_paths:
        return {"version": -1, "files_rewritten": 0}
    # a purge rewrite does not logically modify the surviving rows —
    # rewrite_df preserves their row ids on row-tracked tables
    version = write_delta(
        snap.rewrite_df(paths=dv_paths),
        path,
        mode="append",
        partition_by=list(snap.metadata.partition_columns),
        replace_paths=dv_paths,
        operation="PURGE",
        identity_passthrough=True,  # rewrite carries existing ids
    )
    return {"version": version, "files_rewritten": len(dv_paths)}
