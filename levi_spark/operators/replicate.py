"""CDC replication: keep a replica Delta table identical to a source
table by applying the source's row-level change feed
(:func:`levi_spark.delta.changes.table_changes_cdf`) through the MERGE
builder — O(changes) per sync, never O(table), the downstream half of
the change-data story (capture -> incremental rollup -> replication).

Exactly-once: the replica's own commit carries
``SetTransaction(app_id, source_version)``; the next sync reads the
applied version back from the replica log, so a crash between the
replica commit and anything else cannot double-apply a window, and a
crash before the commit simply redoes it (MERGE application of the
same net-change set is idempotent on the pk).

Multi-version windows are collapsed to the NET change per key before
merging: the last image per primary key in commit order wins
(``update_preimage`` rows are bookkeeping and dropped); a key whose
last image is ``delete`` deletes, anything else upserts. One MERGE per
sync regardless of how many source commits the window spans.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from levi_spark.delta.changes import table_changes_cdf
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge


def _replica_app_id(src_path: str, dst_path: str) -> str:
    return (
        f"levi-replica:{os.path.abspath(src_path)}->{os.path.abspath(dst_path)}"
    )


def _bootstrap_clone(src_log: DeltaLog, dst_path: str, app_id: str, cur: int) -> bool:
    """File-level bootstrap: a DEEP clone (:func:`clone_table` — copy
    the source's live data and deletion-vector files byte-for-byte, commit
    the same add actions; no row re-encoded) with the replica's ``txn``
    exactly-once marker riding the same atomic commit. Returns False
    when the source references files that can't be re-linked locally
    (absolute/external paths) so the caller falls back to the row-level
    rewrite."""
    import json
    import time

    from levi_spark.delta.clone import clone_table

    txn_line = json.dumps(
        {
            "txn": {
                "appId": app_id,
                "version": int(cur),
                "lastUpdated": int(time.time() * 1000),
            }
        }
    )
    try:
        clone_table(
            src_log.spark,
            src_log.table_path,
            dst_path,
            shallow=False,
            extra_action_lines=[txn_line],
        )
    except ValueError as e:
        if "re-link external file" in str(e):
            return False
        raise
    return True


def replicate_cdf(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    pk_cols: list[str],
) -> dict:
    """Sync the replica at ``dst_path`` with the source's changes since
    the last applied version (bootstrap = full snapshot copy). Returns
    {"applied_through", "bootstrapped", "keys_changed"}."""
    app_id = _replica_app_id(src_path, dst_path)
    src_log = DeltaLog(spark, src_path)
    cur = src_log.latest_version()
    if not DeltaLog.exists(dst_path):
        if not _bootstrap_clone(src_log, dst_path, app_id, cur):
            # source references external/absolute files: fall back to
            # the row-level rewrite (reads + re-encodes the dataset)
            snap = src_log.snapshot()
            write_delta(
                snap.to_df(),
                dst_path,
                mode="error",
                partition_by=snap.metadata.partition_columns,
                txn=(app_id, cur),
            )
        return {"applied_through": cur, "bootstrapped": True, "keys_changed": -1}
    applied = (
        DeltaLog(spark, dst_path).snapshot().txn_versions().get(app_id, -1)
    )
    if applied < 0:
        raise ValueError(
            f"replica {dst_path} exists but carries no replication "
            f"SetTransaction for {src_path}; refusing to guess a window"
        )
    if cur <= applied:
        return {"applied_through": applied, "bootstrapped": False, "keys_changed": 0}

    feed = table_changes_cdf(spark, src_path, applied, cur)
    data_cols = [
        c for c in feed.columns if c not in ("_change_type", "_commit_version")
    ]
    # Within one commit version the change feed can carry BOTH a delete
    # and an insert image for the same key (an overwrite commit
    # synthesizes delete+insert at the same version for keys present on
    # both sides). The surviving image is the non-delete one, so the
    # tie-break must prefer it — a plain `_change_type ASC` would sort
    # 'delete' first alphabetically and silently drop surviving keys.
    w = Window.partitionBy(*pk_cols).orderBy(
        F.col("_commit_version").desc(),
        F.when(F.col("_change_type") == "delete", 1).otherwise(0).asc(),
    )
    # net change per key; change-feed-sized, materialized once for the
    # count + the merge passes
    last = (
        feed.where(F.col("_change_type") != "update_preimage")
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .withColumn("__del", F.col("_change_type") == F.lit("delete"))
        .select(*data_cols, "__del")
        .localCheckpoint(eager=True)
    )
    n_keys = last.count()
    if not n_keys:
        # nothing to commit -> the replica's txn stays at `applied`;
        # re-reading this (empty) window next sync is idempotent
        return {
            "applied_through": applied,
            "bootstrapped": False,
            "keys_changed": 0,
        }
    cond = " AND ".join(f"t.{c} <=> s.{c}" for c in pk_cols)
    (
        merge(LeviTable(spark, dst_path), last, cond)
        .when_matched_delete(condition="s.__del")
        .when_matched_update(
            set={c: f"s.{c}" for c in data_cols if c not in pk_cols}
        )
        .when_not_matched_insert(
            condition="NOT s.__del",
            values={c: f"s.{c}" for c in data_cols},
        )
        .execute(txn=(app_id, cur), materialize_source=False)
    )
    return {"applied_through": cur, "bootstrapped": False, "keys_changed": n_keys}
