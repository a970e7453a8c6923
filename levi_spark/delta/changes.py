"""Change Data Feed: incremental reads between table versions.

The reference reads only snapshots; a pipeline consuming a 100 TB table
cannot re-scan it per run — it needs "what changed since version V".
Two tiers, both O(files changed in the range), never the table:

* ``table_changes`` (lite) — added rows of data-changing commits,
  derived purely from the transaction log (no change files). Rows
  REMOVED are visible only at file granularity; MERGE commits
  over-report the untouched rows of touched files.
* ``table_changes_cdf`` (row-level) — full before/after images with
  ``_change_type`` in {insert, delete, update_preimage,
  update_postimage}. Commits that rewrite rows (MERGE, DV DELETE)
  contribute exactly when they recorded change data
  (``emit_cdf=True`` -> ``_change_data/`` parquet + ``cdc`` actions,
  the Delta CDF protocol shape); plain appends synthesize ``insert``
  rows from their add files and overwrites additionally synthesize
  ``delete`` rows from the tombstoned files — no change files needed
  for either, same rule real Delta CDF applies. A rewriting commit
  WITHOUT change data raises: the row-level feed would silently lie.
"""

from __future__ import annotations

import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog

# operations whose adds carry no new logical rows: layout rewrites
# (OPTIMIZE/PURGE) and DV soft deletes (DELETE re-emits existing adds
# with a deletionVector descriptor). MERGE commits DO appear — their
# rewritten files over-report the untouched rows of touched files,
# the documented granularity of a CDF without per-commit change files.
_NON_DATA_OPS = {"OPTIMIZE", "PURGE", "DELETE"}


def _classify(actions: list[dict]) -> dict:
    """One commit as the change feed sees it: its operation, the files
    it added (with partition values), the files it removed with
    ``dataChange``, and its change-data files."""
    out = {"op": "WRITE", "adds": [], "removes": [], "cdc": []}
    for a in actions:
        if "commitInfo" in a:
            out["op"] = a["commitInfo"].get("operation", "WRITE")
        elif "add" in a:
            out["adds"].append(
                (unquote(a["add"]["path"]), a["add"].get("partitionValues") or {})
            )
        elif "remove" in a:
            if a["remove"].get("dataChange", True):
                out["removes"].append(unquote(a["remove"]["path"]))
        elif "cdc" in a:
            out["cdc"].append(unquote(a["cdc"]["path"]))
    return out


def _window(log: DeltaLog, from_version: int, to_version: int | None):
    """The snapshot at ``to_version`` (default: latest) and every
    commit in ``(from_version, to_version]``, classified, in version
    order. Raises ``FileNotFoundError`` when commits of the range were
    expired from the log (same contract as time travel past a vacuumed
    history)."""
    snap = log.snapshot(to_version)
    if from_version > snap.version:
        raise ValueError(f"from_version {from_version} > to_version {snap.version}")
    commits: dict[int, dict] = {}
    missing: list[int] = []
    for v in range(from_version + 1, snap.version + 1):
        try:
            commits[v] = _classify(log.commit_actions(v))
        except FileNotFoundError:
            missing.append(v)
    if missing:
        raise FileNotFoundError(
            f"commits expired from log, cannot compute changes: {missing}"
        )
    return snap, commits


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows added by data-changing commits in ``(from_version,
    to_version]``, with a ``_commit_version`` column. Raises
    ``FileNotFoundError`` when the range's commits were expired from
    the log (same contract as time travel past a vacuumed history)."""
    log = DeltaLog(spark, path)
    snap, commits = _window(log, from_version, to_version)
    adds = [
        (rel, v, pv)
        for v, c in commits.items()
        if c["op"] not in _NON_DATA_OPS
        for rel, pv in c["adds"]
    ]
    if not adds:
        schema = snap.metadata.schema.add("_commit_version", "long")
        return spark.createDataFrame([], schema)
    return _rows_from_files(spark, log.table_path, adds, snap.metadata)


def _rows_from_files(spark: SparkSession, path: str, entries: list, meta) -> DataFrame:
    """Read the logical rows of table data files listed as
    ``(rel_path, commit_version, partition_values)``; returns the
    table's data columns + ``_commit_version``.

    A file may since have been tombstoned (overwritten later) — its
    rows still changed at that commit; only VACUUM physically removes
    it, at which point the feed is genuinely incomplete and we raise.
    """
    from levi_spark.fs import fs_for

    fs = fs_for(path)
    gone = [rel for rel, _v, _pv in entries
            if not fs.exists(os.path.join(path, rel))]
    if gone:
        raise FileNotFoundError(
            f"data files vacuumed, change feed incomplete: {gone[:3]}..."
        )

    files = [os.path.join(path, rel) for rel, _v, _pv in entries]
    phys = meta.physical_schema
    df = spark.read.schema(phys).parquet(*files)
    # per-file commit version + partition values ride the log, keyed by
    # basename (unique within a table — same join as Snapshot.to_df)
    import pyspark.sql.types as T

    side_schema = T.StructType(
        [
            T.StructField("__file_name", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
            T.StructField("__pv", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    side = spark.createDataFrame(
        [(os.path.basename(rel), v, pv) for rel, v, pv in entries], side_schema
    )
    df = df.withColumn("__file_name", F.col("_metadata.file_name")).join(
        F.broadcast(side), on="__file_name", how="left"
    )
    by_name = {f.name: f for f in meta.schema.fields}
    part_cols = [
        F.col("__pv").getItem(c).cast(by_name[c].dataType).alias(c)
        for c in meta.partition_columns
    ]
    return df.select(
        *[F.col(f.name) for f in phys.fields],
        *part_cols,
        F.col("_commit_version"),
    ).select(*meta.data_columns, "_commit_version")


def table_changes_cdf(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed for ``(from_version, to_version]``: the
    table's data columns + ``_change_type`` + ``_commit_version``.

    Per commit: recorded change data (``cdc`` actions) wins; otherwise
    appends synthesize ``insert`` rows from their add files, overwrites
    also synthesize ``delete`` rows from the files they tombstone, and
    layout commits (OPTIMIZE/PURGE) contribute nothing. A MERGE or
    DELETE commit without change data raises ``ValueError`` — those
    rewrite rows, so synthesizing from files would fabricate changes
    (run them with ``emit_cdf=True``).
    """
    from levi_spark.delta.writer import _partition_values_from_relpath

    log = DeltaLog(spark, path)
    path = log.table_path
    snap, commits = _window(log, from_version, to_version)
    meta = snap.metadata
    part_cols = list(meta.partition_columns)

    cdc_entries: list = []   # (rel, version, {}) — pv unused, cols are physical
    ins_entries: list = []   # add files -> insert rows
    del_entries: list = []   # tombstoned files -> delete rows
    for v, acts in commits.items():
        if acts["cdc"]:
            cdc_entries += [(rel, v, {}) for rel in acts["cdc"]]
        elif acts["op"] in _NON_DATA_OPS and acts["op"] != "DELETE":
            continue  # layout rewrite: no logical change
        elif acts["op"] in ("MERGE", "DELETE"):
            raise ValueError(
                f"version {v} ({acts['op']}) recorded no change data; "
                "row-level feed unavailable — re-run the operation with "
                "emit_cdf=True"
            )
        else:
            ins_entries += [(rel, v, pv) for rel, pv in acts["adds"]]
            del_entries += [
                (rel, v, _partition_values_from_relpath(rel, part_cols))
                for rel in acts["removes"]
            ]

    parts: list[DataFrame] = []
    if cdc_entries:
        gone = [
            rel
            for rel, _v, _pv in cdc_entries
            if not log.fs.exists(os.path.join(path, rel))
        ]
        if gone:
            raise FileNotFoundError(
                f"change-data files vacuumed, feed incomplete: {gone[:3]}..."
            )
        import pyspark.sql.types as T

        cdc_schema = T.StructType(
            list(meta.schema.fields) + [T.StructField("_change_type", T.StringType())]
        )
        side = spark.createDataFrame(
            [(os.path.basename(rel), v) for rel, v, _pv in cdc_entries],
            "__file_name string, _commit_version long",
        )
        cdc_df = (
            spark.read.schema(cdc_schema)
            .parquet(*[os.path.join(path, rel) for rel, _v, _pv in cdc_entries])
            .withColumn("__file_name", F.col("_metadata.file_name"))
            .join(F.broadcast(side), on="__file_name", how="left")
        )
        parts.append(
            cdc_df.select(*meta.data_columns, "_change_type", "_commit_version")
        )
    for entries, tag in ((ins_entries, "insert"), (del_entries, "delete")):
        if entries:
            parts.append(
                _rows_from_files(spark, path, entries, meta).select(
                    *meta.data_columns,
                    F.lit(tag).alias("_change_type"),
                    F.col("_commit_version"),
                )
            )
    if not parts:
        schema = meta.schema.add("_change_type", "string").add(
            "_commit_version", "long"
        )
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_changes_cdf_between_timestamps(
    spark: SparkSession,
    path: str,
    from_ts_ms: int,
    to_ts_ms: int | None = None,
) -> DataFrame:
    """Timestamp-windowed change feed — delta-spark's
    ``startingTimestamp``/``endingTimestamp`` contract: the window
    starts at the FIRST commit at-or-after ``from_ts_ms`` (INCLUSIVE
    of that commit's changes — note the asymmetry with
    ``timestampAsOf``, which resolves to the last commit at-or-before)
    and ends at the last commit at-or-before ``to_ts_ms`` (or the
    latest commit). Timestamp->version resolution uses the same
    monotonized ``commit_timestamps`` mapping as time travel
    (inCommitTimestamp preferred), then delegates to the version-based
    feed. Raises ``ValueError`` when the window is empty or
    unreachable (start after the latest commit, end before the
    earliest)."""
    from levi_spark.delta.log import DeltaLog

    from levi_spark.fs import absolutize

    path = absolutize(path)
    pairs = DeltaLog(spark, path).commit_timestamps()
    if not pairs:
        raise ValueError(
            f"no commit timestamps available in {path} (history expired "
            "past a checkpoint); use version-based table_changes_cdf"
        )
    starts = [v for v, t in pairs if t >= from_ts_ms]
    if not starts:
        raise ValueError(
            f"startingTimestamp {from_ts_ms} is after the latest commit "
            f"(version {pairs[-1][0]} at {pairs[-1][1]})"
        )
    start_v = min(starts)
    if to_ts_ms is None:
        end_v = pairs[-1][0]
    else:
        ends = [v for v, t in pairs if t <= to_ts_ms]
        if not ends:
            raise ValueError(
                f"endingTimestamp {to_ts_ms} is before the earliest "
                f"reachable commit (version {pairs[0][0]} at {pairs[0][1]})"
            )
        end_v = max(ends)
    if end_v < start_v:
        raise ValueError(
            f"empty timestamp window: starts at version {start_v}, "
            f"ends at version {end_v}"
        )
    # version feed is (from, to]-exclusive-start; the timestamp window
    # INCLUDES the start commit's changes
    return table_changes_cdf(spark, path, start_v - 1, end_v)
