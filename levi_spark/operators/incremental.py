"""Incremental aggregate maintenance: keep a rollup table fresh in
O(changes), never O(table), using the row-level change feed.

A 100 TB fact table with a maintained rollup cannot afford recompute-
per-refresh. With :func:`levi_spark.delta.changes.table_changes_cdf`
every refresh is a signed fold over the change rows:

* ``insert`` / ``update_postimage`` rows count +1 and add their
  measures; ``delete`` / ``update_preimage`` rows count -1 and
  subtract. An update that moves a row across groups nets out
  naturally (-1 in the old group, +1 in the new).
* Measures are maintained as **quantized int64 sums** (1e-4 units,
  same trick as the query surface) so subtraction is exact — a
  float-sum rollup drifts under long chains of +x / -x.
* The per-group deltas MERGE into the rollup (file-targeted, via
  :mod:`levi_spark.operators.merge`): groups reaching zero rows are
  deleted, new groups insert, the rest update in place. Group keys
  join null-safely (``<=>``) so a NULL group is one group, not an
  ever-growing insert stream.
* The last-applied base version rides INSIDE the rollup's own commit
  as a Delta SetTransaction action (``MergeBuilder.execute(txn=...)``)
  — apply and record are atomic, so a crash between the merge commit
  and the :class:`levi_spark.streaming.delta_source.SyncState` cache
  write cannot double-apply a delta window (the next refresh reads the
  txn version back from the rollup log and skips the window).

The base table's mutating commits must carry change data
(``emit_cdf=True`` on MERGE/soft_delete); plain appends and
overwrites need nothing (the feed synthesizes their rows).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from levi_spark.delta.changes import table_changes_cdf
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge
from levi_spark.streaming.delta_source import SyncState, _applied_version

_SCALE = 10000.0


def _agg_app_id(base_path: str) -> str:
    import os

    return f"levi-agg:{os.path.abspath(base_path)}"


def _qcol(c: str):
    return F.floor(F.col(c) * F.lit(_SCALE) + F.lit(0.5)).cast("long")


def init_aggregate(
    spark: SparkSession,
    base_path: str,
    agg_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    state: SyncState,
) -> int:
    """Full initial rollup of the base table: ``group_cols`` ->
    ``n_rows`` + one quantized int64 sum per measure (``sum_q_<c>``;
    surface value = /10000). Checkpoints the base version it saw."""
    log = DeltaLog(spark, base_path)
    snap = log.snapshot()
    agg = (
        snap.to_df()
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(_qcol(c)).alias(f"sum_q_{c}") for c in sum_cols],
        )
    )
    version = write_delta(
        agg, agg_path, mode="error",
        txn=(_agg_app_id(base_path), snap.version),
    )
    state.advance(snap.version)
    return version


def refresh_aggregate(
    spark: SparkSession,
    base_path: str,
    agg_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    state: SyncState,
) -> dict:
    """Fold the base table's changes since the checkpoint into the
    rollup. Returns {"from_version", "to_version", "groups_changed"}
    (a no-op window returns groups_changed 0 and commits nothing)."""
    app_id = _agg_app_id(base_path)
    # the rollup log's SetTransaction is authoritative; the state file
    # is a cache that may lag one window behind after a crash
    last = max(state.last_version(), _applied_version(spark, agg_path, app_id))
    cur = DeltaLog(spark, base_path).latest_version()
    if cur <= last:
        return {"from_version": last, "to_version": cur, "groups_changed": 0}
    feed = table_changes_cdf(spark, base_path, last, cur)
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = (
        feed.groupBy(*group_cols)
        .agg(
            F.sum(sign).alias("d_n"),
            *[F.sum(sign * _qcol(c)).alias(f"d_{c}") for c in sum_cols],
        )
        .where(  # a fully cancelled group (e.g. same-group update) still
            # nets measure changes; only drop when EVERYTHING is zero
            ~F.expr(
                " AND ".join(
                    ["d_n = 0"] + [f"d_{c} = 0" for c in sum_cols]
                )
            )
        )
    )
    # materialize ONCE: the CDF lineage (change files + synthesized
    # add/remove reads) would otherwise recompute for the count AND for
    # every pass of the merge; group-level deltas are rollup-sized
    deltas = deltas.localCheckpoint(eager=True)
    n_changed = deltas.count()
    if n_changed:
        cond = " AND ".join(f"t.{c} <=> s.{c}" for c in group_cols)
        (
            merge(LeviTable(spark, agg_path), deltas, cond)
            .when_matched_delete(condition="t.n_rows + s.d_n = 0")
            .when_matched_update(
                set={
                    "n_rows": "t.n_rows + s.d_n",
                    **{
                        f"sum_q_{c}": f"t.sum_q_{c} + s.d_{c}" for c in sum_cols
                    },
                }
            )
            .when_not_matched_insert(
                condition="s.d_n > 0",
                values={
                    **{c: f"s.{c}" for c in group_cols},
                    "n_rows": "s.d_n",
                    **{f"sum_q_{c}": f"s.d_{c}" for c in sum_cols},
                },
            )
            .execute(txn=(app_id, cur), materialize_source=False)
        )
    state.advance(cur)
    return {"from_version": last, "to_version": cur, "groups_changed": n_changed}


def read_aggregate(
    spark: SparkSession, agg_path: str, sum_cols: list[str]
):
    """The rollup with measures surfaced back as doubles."""
    df = DeltaLog(spark, agg_path).snapshot().to_df()
    return df.select(
        *[c for c in df.columns if not c.startswith("sum_q_")],
        *[
            (F.col(f"sum_q_{c}").cast("double") / F.lit(_SCALE)).alias(f"sum_{c}")
            for c in sum_cols
        ],
    )
