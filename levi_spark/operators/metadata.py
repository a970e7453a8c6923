"""Metadata-plane operators: queries over the Delta transaction log.

Spark-native re-expression of the reference's metadata analytics
(``/root/reference/levi/__init__.py:13-116`` — ``skipped_stats``,
``filter_to_sql`` / ``filters_to_sql``, ``latest_version``,
``delta_file_sizes``, ``updated_partitions``).

Scale stance: the add-actions frame is O(number of data files) — at
100 TB that is at most a few million rows — and nothing here ever
touches data-plane rows. Each operator is one per-file projection
(Spark SQL still evaluates the pruning predicate, the bucket bounds and
the partition casts) whose rows are collected and folded on the
driver: counts, sums and first-seen order in Python, the way the
reference folds its add-action frame with pandas. The log replay runs
on the driver and the add-actions frame is built with
``delta.log.local_frame``: under Spark's
``spark.sql.execution.arrow.localRelationThreshold`` it is a
``LocalRelation``, so the projection folds at planning time and the
collect starts no Spark job; above it the frame is an RDD scan and each
call costs one job.
"""

from __future__ import annotations

import datetime as _dt
from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog, Snapshot
from levi_spark.functions.units import boundary_parser

DEFAULT_SIZE_BOUNDARIES = ["<1mb", "1mb-500mb", "500mb-1gb", "1gb-2gb", ">2gb"]

Filter = tuple  # (column, op, value)


def filter_to_sql(filter: Filter) -> str:
    """Compile one ``(col, op, value)`` predicate into pruning SQL over the
    flattened stats columns (``min.<col>`` / ``max.<col>``).

    Semantics (reference parity, levi/__init__.py:34-47):
    ``=`` is *interval overlap* — a file can contain the value iff
    ``min <= v <= max``; ``<``/``<=`` consult only the file minimum;
    ``>``/``>=`` only the maximum. Unsupported operators raise
    ``ValueError``.
    """
    column, operator, value = filter
    if operator == "=":
        return f"(`min.{column}` <= {value} and `max.{column}` >= {value})"
    if operator == "<":
        return f"(`min.{column}` < {value})"
    if operator == "<=":
        return f"(`min.{column}` <= {value})"
    if operator == ">":
        return f"(`max.{column}` > {value})"
    if operator == ">=":
        return f"(`max.{column}` >= {value})"
    raise ValueError(f"Unsupported filter operator: {operator!r} in {filter!r}")


def filters_to_sql(filters: Iterable[Filter]) -> str:
    """AND-conjunction of per-filter pruning SQL (no OR/NOT — reference
    parity, levi/__init__.py:27-31)."""
    return " and ".join(filter_to_sql(f) for f in filters)


def skipped_stats(snapshot: Snapshot, filters: Sequence[Filter]) -> dict:
    """File-skipping simulation: how many files / bytes would min-max
    stats pruning eliminate for this conjunctive predicate?

    Returns ``{"num_files", "num_files_skipped", "num_bytes_skipped"}``.
    Files with missing stats produce NULL comparisons → not matched →
    counted as skipped (mirrors the reference's pandas-NaN behavior,
    SURVEY §7.3-4); a NULL size adds no bytes.
    """
    pred = F.coalesce(F.expr(filters_to_sql(filters)), F.lit(False))
    files = (
        snapshot.add_actions_flat()
        .select(F.col("size_bytes"), pred.alias("matched"))
        .collect()
    )
    skipped = [r for r in files if not r["matched"]]
    return {
        "num_files": len(files),
        "num_files_skipped": len(skipped),
        "num_bytes_skipped": sum(r["size_bytes"] or 0 for r in skipped),
    }


def pruned_scan(
    snapshot: Snapshot,
    filters: Sequence[Filter],
    with_lineage: bool = False,
) -> DataFrame:
    """Scan with data skipping APPLIED: the same ``(col, op, value)``
    conjunction that :func:`skipped_stats` measures prunes the file
    list before any data is read, then re-applies exactly per row.

    The reference only ever *simulates* skipping (P1's whole purpose);
    this is the other half — a scan whose IO is O(files that can
    match):

    * **stats pruning** (data columns): a file survives unless its
      min/max interval *provably* excludes the predicate
      (``filter_to_sql`` semantics); missing stats keep the file —
      conservative, never wrong.
    * **partition pruning** (partition columns): exact — every row of
      a file shares the partition value, so ``value op v`` not being
      TRUE (including the NULL partition) eliminates the file.
    * the row-level predicate is then applied on the surviving files,
      where it also pushes into the parquet scan as usual.

    Unsupported operators raise ``ValueError`` (same contract as
    ``filter_to_sql``). Deletion vectors, partition-value typing, and
    lineage columns behave exactly as :meth:`Snapshot.to_df`.
    """
    from urllib.parse import unquote

    meta = snapshot.metadata
    part_cols = set(meta.partition_columns)
    types = {f.name: f.dataType for f in meta.schema.fields}
    flat = snapshot.add_actions_flat()
    stat_cols = {c[len("min."):] for c in flat.columns if c.startswith("min.")}

    keep = F.lit(True)
    exact = F.lit(True)
    for column, op, value in filters:
        if op not in ("=", "<", "<=", ">", ">="):
            raise ValueError(
                f"Unsupported filter operator: {op!r} in {(column, op, value)!r}"
            )
        col = F.col(column)
        exact = exact & {
            "=": col == value, "<": col < value, "<=": col <= value,
            ">": col > value, ">=": col >= value,
        }[op]
        if column in part_cols:
            pv = F.col("partitionValues").getItem(column).cast(types[column])
            keep = keep & {
                "=": pv == value, "<": pv < value, "<=": pv <= value,
                ">": pv > value, ">=": pv >= value,
            }[op]
        elif column in stat_cols:
            mn = F.col(f"`min.{column}`")
            mx = F.col(f"`max.{column}`")
            pred = {
                "=": (mn <= value) & (mx >= value),
                "<": mn < value, "<=": mn <= value,
                ">": mx > value, ">=": mx >= value,
            }[op]
            keep = keep & F.coalesce(pred, F.lit(True))  # no stats -> must read
        # else: not prunable (nested / no stats schema) — residual only

    survivors = [
        unquote(r["path"]) for r in flat.where(keep).select("path").collect()
    ]
    return snapshot.to_df(paths=survivors, with_lineage=with_lineage).where(exact)


def latest_version(table: DeltaLog | Snapshot | str, spark=None) -> int:
    """Current snapshot version of the table (reference:
    levi/__init__.py:50-51)."""
    if isinstance(table, Snapshot):
        return table.log.latest_version()
    if isinstance(table, DeltaLog):
        return table.latest_version()
    if isinstance(table, str):
        if spark is None:
            raise TypeError("latest_version(path) requires the spark argument")
        return DeltaLog(spark, table).latest_version()
    raise TypeError(f"expected DeltaLog/Snapshot/path, got {type(table).__name__}")


def delta_file_sizes(
    snapshot: Snapshot, boundaries: Sequence[str] | None = None
) -> dict:
    """File-size histogram over live files.

    Each bucket counts the files whose size lies in the inclusive
    ``between(lo, hi)`` range (a NULL size is in no bucket); keys are
    ``num_files_<boundary>`` (reference parity, levi/__init__.py:54-63).
    """
    boundaries = list(boundaries or DEFAULT_SIZE_BOUNDARIES)
    size = F.col("size_bytes")
    files = (
        snapshot.add_actions()
        .select(
            *[
                size.between(lo, hi).alias(f"b{i}")
                for i, (lo, hi) in enumerate(map(boundary_parser, boundaries))
            ]
        )
        .collect()
    )
    return {
        f"num_files_{b}": sum(1 for r in files if r[i])
        for i, b in enumerate(boundaries)
    }


def _to_epoch_millis(t) -> int:
    if isinstance(t, _dt.datetime):
        return int(t.timestamp() * 1000)
    if isinstance(t, (int, float)):
        return int(t)
    raise TypeError(f"expected datetime or epoch millis, got {type(t).__name__}")


def updated_partitions(
    snapshot: Snapshot,
    start_time: _dt.datetime | int | None = None,
    end_time: _dt.datetime | int | None = None,
) -> list[dict]:
    """Distinct partition values of files modified in ``[start, end)``
    — start inclusive, end exclusive (reference parity,
    levi/__init__.py:108-116). Values are cast to the declared partition
    column types (deltalake returns typed values, e.g. int 1 not "1").
    """
    meta = snapshot.metadata
    part_cols = meta.partition_columns
    if not part_cols:
        return []
    aa = snapshot.add_actions()
    if start_time is not None:
        aa = aa.where(F.col("modification_time") >= F.lit(_to_epoch_millis(start_time)))
    if end_time is not None:
        aa = aa.where(F.col("modification_time") < F.lit(_to_epoch_millis(end_time)))
    by_name = {f.name: f for f in meta.schema.fields}
    files = aa.select(
        F.col("commit_version"),
        F.col("modification_time"),
        *[
            F.col("partitionValues").getItem(c).cast(by_name[c].dataType).alias(c)
            for c in part_cols
        ],
    ).collect()
    # First-seen order parity with the reference (levi returns
    # partitions in add-action order): order the distinct partition
    # tuples by earliest commit version, then earliest modification
    # time (a missing time sorts first, as in Spark's ascending order).
    first: dict[tuple, tuple] = {}
    for r in files:
        key = tuple(r[c] for c in part_cols)
        v, t = r["commit_version"], r["modification_time"]
        if key in first:
            v0, t0 = first[key]
            v = min(v0, v)
            t = min((x for x in (t0, t) if x is not None), default=None)
        first[key] = (v, t)
    order = sorted(
        first, key=lambda k: (first[k][0], first[k][1] is not None, first[k][1])
    )
    return [dict(zip(part_cols, k)) for k in order]
