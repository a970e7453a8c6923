"""Data-plane duplicate-elimination operators (reference P9/P11/P12:
``kill_duplicates`` / ``drop_duplicates`` / ``drop_duplicates_pkey``,
``/root/reference/levi/__init__.py:119-166,298-426``).

Spark-first design notes (100 TB stance):

* No positional ``take`` / driver-side index arrays (the reference
  appends a 0..n-1 index column and gathers by position) — survivor
  selection is a ``row_number()`` window over the duplicate key, which
  shuffles once on that key and streams.
* "First physical occurrence" (P11) is given a *defined*, distributed
  meaning: files ordered by (commit version, path), rows by
  ``_metadata.row_index`` within a file — byte-for-byte the order a
  single-process reader would see, but computed without collapsing to
  one partition.
* Every table verb is one loser-set computation over the FULL table
  (``kill_duplicates``: every non-NULL-keyed row of a group counting
  more than one; ``drop_duplicates`` / ``drop_duplicates_pkey``: every
  row after the first of its group) followed by the one
  FILE-TARGETED rewrite, :func:`_targeted_loser_rewrite`: only the
  files that lose a row are replaced (``write_delta(replace_paths=…)``),
  never the whole table — at 100 TB a dedup pass touching 0.1% of rows
  must not rewrite the other 99.9% of bytes. Because the loser set is
  global, targeting never changes results. Untouched files keep their
  add actions, stats, and history; rewritten survivors keep their row
  ids on row-tracked tables (``Snapshot.rewrite_df``).
"""

from __future__ import annotations

import functools
import operator
import os

from urllib.parse import unquote

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from levi_spark.delta.log import local_frame
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta


def _check_table(table) -> LeviTable:
    if not isinstance(table, LeviTable):
        raise TypeError(f"An existing LeviTable is required, got {type(table).__name__}")
    return table


def _check_columns(df_cols: list[str], required: list[str]) -> None:
    missing = [c for c in required if c not in df_cols]
    if missing:
        raise TypeError(
            f"Columns {missing} not found in table columns {sorted(df_cols)}"
        )


def _dup_columns(duplication_columns) -> list[str]:
    if not duplication_columns or not isinstance(duplication_columns, (list, tuple)):
        raise TypeError("duplication_columns must be a non-empty list or tuple")
    return list(duplication_columns)


def _check_pkey(df: DataFrame, primary_key: str, duplication_columns) -> list[str]:
    """Validate P12's arguments against ``df`` and require a globally
    unique primary key (one aggregate); returns the duplication
    columns as a list."""
    if not primary_key or not isinstance(primary_key, str):
        raise TypeError("primary_key must be a non-empty string")
    dcols = _dup_columns(duplication_columns)
    if primary_key in dcols:
        raise TypeError("primary_key cannot be one of the duplication_columns")
    _check_columns(df.columns, [primary_key, *dcols])
    counts = df.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct(primary_key).alias("d")
    ).first()
    if counts["n"] != counts["d"]:
        raise ValueError(
            f"Primary key {primary_key!r} is not unique: {counts['n']} rows, "
            f"{counts['d']} distinct keys"
        )
    return dcols


def kill_duplicates_transform(df: DataFrame, duplication_columns: list[str]) -> DataFrame:
    """Survivor set after deleting every member of every duplicate group.

    Pure transform for the query surface (the table operator,
    :func:`kill_duplicates`, deletes the same rows in place).
    left_anti on equi-keys: NULL keys never match ⇒ NULL rows survive,
    exactly like the reference's MERGE-delete predicate
    (levi/__init__.py:155).
    """
    dcols = _dup_columns(duplication_columns)
    _check_columns(df.columns, dcols)
    dup_keys = (
        df.groupBy(*dcols)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") > 1)
        .select(*dcols)
    )
    return df.join(dup_keys, on=dcols, how="left_anti").select(*df.columns)


def kill_duplicates(table: LeviTable, duplication_columns: list[str]) -> dict:
    """Delete **every** member of every duplicate group (no survivor),
    rewriting only the files that hold one.

    Rows with NULL in any duplication column are never deleted — SQL
    ``=`` never matches NULL (reference parity, the MERGE predicate at
    levi/__init__.py:155) — so they are dropped before the group count.
    The losers are every remaining row whose group counts more than
    one; :func:`_targeted_loser_rewrite` replaces exactly their files.

    Returns ``{"files_rewritten", "files_total", "rows_deleted",
    "version"}`` (version -1 if the table has no duplicates).
    """
    _check_table(table)
    dcols = _dup_columns(duplication_columns)
    snap = table.snapshot()
    _check_columns(snap.metadata.data_columns, dcols)
    non_null = functools.reduce(
        operator.and_, [F.col(c).isNotNull() for c in dcols]
    )
    losers = (
        snap.to_df(with_lineage=True)
        .where(non_null)
        .withColumn("__cnt", F.count(F.lit(1)).over(Window.partitionBy(*dcols)))
        .where(F.col("__cnt") > 1)
        .select(
            F.col("_file_name").alias("__file_name"),
            F.col("_row_index").alias("__row_idx"),
        )
    )
    return _targeted_loser_rewrite(table, losers)


def _physical_order_df(table: LeviTable) -> DataFrame:
    """Table data plus ``__file_name``/``__file_seq``/``__row_idx``
    columns reproducing single-process read order: live files sorted by
    (commit version, path), then parquet row index within each file.
    The file order comes from the snapshot's cached live-file list, so
    building the frame starts no Spark job."""
    snap = table.snapshot()
    files = sorted(
        (r["version"], unquote(r["add"]["path"])) for r in snap.live_adds_collected()
    )
    seq_df = local_frame(
        table.spark,
        [(os.path.basename(p), i) for i, (_v, p) in enumerate(files)],
        T.StructType(
            [
                T.StructField("__file_name", T.StringType()),
                T.StructField("__file_seq", T.LongType()),
            ]
        ),
    )
    return (
        snap.to_df(with_lineage=True)
        .withColumnRenamed("_file_name", "__file_name")
        .withColumnRenamed("_row_index", "__row_idx")
        .join(F.broadcast(seq_df), on="__file_name", how="left")
        .select(*snap.metadata.data_columns, "__file_name", "__file_seq", "__row_idx")
    )


_ORDER_META = ("__file_name", "__file_seq", "__row_idx")


def _targeted_loser_rewrite(table: LeviTable, losers: DataFrame) -> dict:
    """Rewrite ONLY the files that contain a loser row, dropping exactly
    those rows. ``losers`` carries (``__file_name``, ``__row_idx``) of
    every row to delete — computed by the caller over the FULL table, so
    global survivor choice is preserved.

    The losers are materialized once (``localCheckpoint``): the
    full-table window behind them runs a single time, and both the
    per-file loser count (one metadata-scale collect: the hit files and
    ``rows_deleted``) and the rewrite's anti-join read the materialized
    rows. Then one subset re-read and one atomic commit."""
    snap = table.snapshot()
    losers = losers.localCheckpoint(eager=True)
    per_file = {
        r["__file_name"]: r["n"]
        for r in losers.groupBy("__file_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    all_rels = [unquote(r["add"]["path"])
                for r in snap.live_adds_collected()]
    if not per_file:
        return {
            "files_rewritten": 0,
            "files_total": len(all_rels),
            "rows_deleted": 0,
            "version": -1,
        }
    rels = [p for p in all_rels if os.path.basename(p) in per_file]
    kept = (
        snap.rewrite_df(paths=rels, with_lineage=True)
        .join(
            losers.select(
                F.col("__file_name").alias("_file_name"),
                F.col("__row_idx").alias("_row_index"),
            ),
            on=["_file_name", "_row_index"],
            how="left_anti",
        )
        .drop("_file_name", "_row_index")
    )
    version = write_delta(
        kept,
        table.path,
        mode="append",
        partition_by=list(snap.metadata.partition_columns),
        replace_paths=rels,
        operation="DELETE",
        identity_passthrough=True,  # rewrite carries existing ids
    )
    return {
        "files_rewritten": len(rels),
        "files_total": len(all_rels),
        "rows_deleted": sum(per_file.values()),
        "version": version,
    }


def drop_duplicates(table: LeviTable, duplication_columns: list[str]) -> dict:
    """Keep exactly one row per duplicate group — the first by physical
    row order (reference P11). Survivor = min (file_seq, row_idx) via a
    window; one shuffle on the duplicate key — and a FILE-TARGETED
    rewrite: only files that lose a row are replaced (the loser set is
    global, so survivors outside the rewritten files are untouched by
    construction)."""
    _check_table(table)
    dcols = _dup_columns(duplication_columns)
    df = _physical_order_df(table)
    _check_columns([c for c in df.columns if c not in _ORDER_META], dcols)
    w = Window.partitionBy(*dcols).orderBy("__file_seq", "__row_idx")
    losers = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select("__file_name", "__row_idx")
    )
    return _targeted_loser_rewrite(table, losers)


def drop_duplicates_ordered(
    df: DataFrame, duplication_columns: list[str], order_columns: list[str]
) -> DataFrame:
    """Keep one row per duplicate group — the first under an explicit,
    caller-defined ordering. Pure transform; the SQL-stable counterpart
    of P11's physical-order semantics (one shuffle on the dup key)."""
    dcols = _dup_columns(duplication_columns)
    _check_columns(df.columns, [*dcols, *order_columns])
    w = Window.partitionBy(*dcols).orderBy(
        *[F.col(c).asc() for c in order_columns]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*df.columns)
    )


def drop_duplicates_pkey_transform(
    df: DataFrame, primary_key: str, duplication_columns: list[str]
) -> DataFrame:
    """Pure transform behind P12: per duplicate group keep the lowest
    primary key; pk must be globally unique (``ValueError``)."""
    dcols = _check_pkey(df, primary_key, duplication_columns)
    return drop_duplicates_ordered(df, dcols, [primary_key])


def drop_duplicates_pkey(
    table: LeviTable, primary_key: str, duplication_columns: list[str]
) -> dict:
    """Keep, per duplicate group, the row with the lowest primary key
    (reference P12). Requires a globally unique primary key
    (``ValueError`` otherwise — it guards survivor determinism).
    File-targeted: only files losing a row are rewritten."""
    _check_table(table)
    df = table.snapshot().to_df(with_lineage=True)
    dcols = _check_pkey(df, primary_key, duplication_columns)
    w = Window.partitionBy(*dcols).orderBy(F.col(primary_key).asc())
    losers = (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(
            F.col("_file_name").alias("__file_name"),
            F.col("_row_index").alias("__row_idx"),
        )
    )
    return _targeted_loser_rewrite(table, losers)
