"""Streaming ingestion into the engine's own Delta tables.

``foreachBatch`` bridges Structured Streaming to the batch writer: each
micro-batch commits one Delta version (append). The checkpoint location
makes the SOURCE side exactly-once across clean restarts; the SINK side
is made exactly-once under crash replay too by recording the micro-batch
id as a Delta SetTransaction in the same commit (delta-spark's
``txnAppId``/``txnVersion`` idempotent-sink pattern): when Spark replays
a batch whose commit already landed — crash between the table commit
and the checkpoint write — the sink sees ``batch_id <= txn_versions()``
and skips, instead of double-appending.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from levi_spark.delta.writer import write_delta


def _record_state_metrics(q) -> None:
    """Publish this drain's per-batch state metrics to
    ``jobs.LAST_STATE_METRICS`` (foreachBatch sinks carry no
    stateOperators unless the stream itself is stateful, but the
    batch series is still the scale evidence bench_scale records)."""
    from levi_spark.streaming import jobs

    try:
        jobs.LAST_STATE_METRICS = jobs._capture_state_metrics(q)
    except Exception:
        jobs.LAST_STATE_METRICS = {}


def _sink_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    partition_by: list[str] | None,
    app_id: str,
) -> bool:
    """Commit one micro-batch idempotently; returns False when the
    batch was already applied (crash replay)."""
    from levi_spark.delta.log import DeltaLog

    exists = DeltaLog.exists(table_path)
    if exists:
        applied = (
            DeltaLog(batch_df.sparkSession, table_path)
            .snapshot()
            .txn_versions()
            .get(app_id, -1)
        )
        if batch_id <= applied:
            return False
    write_delta(
        batch_df,
        table_path,
        mode="append" if exists else "error",
        partition_by=partition_by,
        txn=(app_id, batch_id),
    )
    return True


def stream_to_delta(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    app_id: str | None = None,
) -> None:
    """Drain ``stream_df`` (AvailableNow) into the Delta table at
    ``table_path``, one commit per micro-batch, exactly-once across
    both clean restarts (source checkpoint) and crash replays
    (per-batch SetTransaction)."""
    app = app_id or f"levi-stream-sink:{os.path.abspath(checkpoint_dir)}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _sink_batch(batch_df, batch_id, table_path, partition_by, app)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _record_state_metrics(q)


def ingest_events(
    spark: SparkSession,
    sf_dir: str,
    table_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> None:
    """File-stream the events table into a Delta table partitioned by
    event_type — the full loop: source -> stream -> engine's log."""
    from levi_spark.streaming.jobs import read_events_stream

    stream_to_delta(
        read_events_stream(spark, sf_dir, max_files_per_trigger),
        table_path,
        checkpoint_dir,
        partition_by=["event_type"],
    )


def _upsert_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    keys: list[str],
    order_cols: list[str],
    app: str,
) -> bool:
    """Apply one micro-batch of the UPSERT sink idempotently; returns
    False when the batch was already applied (crash replay). Module
    level (not a closure) so the crash-replay law can be property-held
    by driving it directly with explicit batch ids — Spark's replay
    contract is 'same batch id, same batch content'.

    Edge the property test pinned: a batch whose MERGE has nothing to
    do (every incoming row loses the order-tuple update condition and
    no key is new) commits NOTHING — the merge builder refuses no-op
    commits, so no SetTransaction lands and a replay of that batch
    re-RUNS instead of skipping. That is still exactly-once at the
    state level: the sink is the table's only writer, a replay runs
    against the identical state, and the same no-op falls out. Only
    batches that committed are (and need to be) skipped by the
    ``batch_id <= applied`` guard."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from levi_spark.delta.log import DeltaLog
    from levi_spark.delta.table import LeviTable
    from levi_spark.operators.merge import merge

    spark = batch_df.sparkSession
    exists = DeltaLog.exists(table_path)
    if exists:
        applied = (
            DeltaLog(spark, table_path)
            .snapshot()
            .txn_versions()
            .get(app, -1)
        )
        if batch_id <= applied:
            return False
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    latest = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if not exists:
        write_delta(latest, table_path, mode="error", txn=(app, batch_id))
        return True
    non_keys = [c for c in latest.columns if c not in keys]
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    # Batches are not ordered by event time (file-stream discovery
    # is path order), so an unconditional update would let an OLDER
    # row arriving in a LATER batch clobber newer state. The update
    # fires only when the incoming row wins the same order that
    # picked the per-batch latest (tuple compare over order_cols).
    s_tuple = ", ".join(f"s.{c}" for c in order_cols)
    t_tuple = ", ".join(f"t.{c}" for c in order_cols)
    newer = f"struct({s_tuple}) >= struct({t_tuple})"
    (
        merge(LeviTable(spark, table_path), latest, cond)
        .when_matched_update(
            condition=newer, set={c: f"s.{c}" for c in non_keys}
        )
        .when_not_matched_insert(
            values={c: f"s.{c}" for c in latest.columns}
        )
        .execute(txn=(app, batch_id))
    )
    return True


def stream_upsert_to_delta(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    order_cols: list[str],
    app_id: str | None = None,
) -> None:
    """Streaming UPSERT sink: each micro-batch is reduced to its latest
    row per key (``order_cols`` descending, deterministic tie-break)
    and MERGEd into the Delta table — matched keys update, new keys
    insert — with the batch id recorded as a SetTransaction in the
    SAME commit, so crash replays of an already-applied batch are
    skipped, never double-merged. This is the keyed materialized-view
    pattern (latest state per entity) that a plain append sink can't
    express.

    Scale shape: the per-batch reduction is one keyed window over the
    micro-batch only; the MERGE rewrites only files holding matched
    keys (:mod:`levi_spark.operators.merge`), so steady-state cost
    tracks the batch's key cardinality, not table size."""
    app = app_id or f"levi-stream-upsert:{os.path.abspath(checkpoint_dir)}"

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _upsert_batch(batch_df, batch_id, table_path, keys, order_cols, app)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _record_state_metrics(q)
