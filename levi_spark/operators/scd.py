"""Type-2 slowly-changing-dimension upsert (reference P10:
``type_2_scd_upsert``, ``/root/reference/levi/__init__.py:169-295``).

Two realizations of the same MERGE semantics:

* :func:`scd2_merge_result` — the pure transform (full post-upsert
  contents as declarative DataFrame set algebra), shared with the
  query/oracle surface;
* :func:`type_2_scd_upsert` — the table operator, executed through the
  engine's file-targeted MERGE builder
  (:mod:`levi_spark.operators.merge`), exactly like the reference
  itself merges (``levi/__init__.py:274-295``). Only files holding a
  to-be-closed current row are rewritten; untouched files keep their
  add actions, stats, and history — at 100 TB this is the difference
  between O(changed files) and O(table) per upsert. The staged source
  uses the reference's NULL-merge-key trick: a changed row appears
  twice, once keyed (closing the old version via WHEN MATCHED UPDATE)
  and once NULL-keyed (falling into WHEN NOT MATCHED INSERT).

``updates_df`` may be any dataframe-interchange object (``pandas``,
``pyarrow.Table``, …) — reference parity with
``levi/__init__.py:9,171,224``, which accepts any ``__dataframe__``
producer; non-Spark inputs are update-sized (dimension deltas), so the
``createDataFrame`` hop is driver-cheap.

Deliberate deviations from the reference, both documented there as
latent issues:

* the current-flag column name is **parameterized** in the match
  predicate — the reference hardcodes ``is_current`` at
  levi/__init__.py:277 and would corrupt tables using another name;
* attribute comparison stays non-null-safe ``!=`` (NULL ↔ value is NOT
  a change), matching levi/__init__.py:237-241 exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from levi_spark.delta.table import LeviTable


def as_spark_df(spark: SparkSession, obj) -> DataFrame:
    """Accept a Spark DataFrame or any dataframe-interchange producer
    (``__dataframe__``: pandas, pyarrow, polars, …) and return a Spark
    DataFrame. The interchange hop is driver-side — use it for
    update-sized frames only, never table-sized data."""
    if isinstance(obj, DataFrame):
        return obj
    if hasattr(obj, "__dataframe__"):
        import pandas as pd

        pdf = (
            obj
            if isinstance(obj, pd.DataFrame)
            else pd.api.interchange.from_dataframe(obj)
        )
        return spark.createDataFrame(pdf)
    raise TypeError(
        f"updates must be a Spark DataFrame or a __dataframe__ "
        f"interchange object, got {type(obj).__name__}"
    )


def _check_scd_columns(
    base_cols: list[str],
    updates_cols: list[str],
    primary_key: str,
    attr_col_names: list[str],
    is_current_col_name: str,
    effective_time_col_name: str,
    end_time_col_name: str,
) -> None:
    base_required = sorted(
        [primary_key, *attr_col_names, is_current_col_name,
         effective_time_col_name, end_time_col_name]
    )
    if sorted(base_cols) != base_required:
        raise TypeError(
            f"Base table columns {sorted(base_cols)} must be exactly {base_required}"
        )
    updates_required = sorted([primary_key, *attr_col_names, effective_time_col_name])
    if sorted(updates_cols) != updates_required:
        raise TypeError(
            f"Updates columns {sorted(updates_cols)} must be exactly {updates_required}"
        )


def _staged_source(
    current: DataFrame, updates_df: DataFrame, primary_key: str,
    attr_col_names: list[str], pk_type: DataType | str,
) -> DataFrame:
    """The reference's NULL-merge-key staged source: every update row
    keyed by ``__merge_key`` = pk; rows whose attrs differ from the
    ``current`` version also appear NULL-keyed, so they fall through to
    the insert clause."""
    base_sfx = current.select(
        F.col(primary_key).alias("__pk_base"),
        *[F.col(a).alias(f"{a}__base") for a in attr_col_names],
    )
    changed = (
        updates_df.join(
            base_sfx, updates_df[primary_key] == base_sfx["__pk_base"], "inner"
        )
        .where(
            reduce(
                lambda x, y: x | y,
                [F.col(a) != F.col(f"{a}__base") for a in attr_col_names],
            )
        )
        .select(*updates_df.columns)
        .withColumn("__merge_key", F.lit(None).cast(pk_type))
    )
    return updates_df.withColumn("__merge_key", F.col(primary_key)).unionByName(
        changed
    )


def scd2_merge_result(
    base_df: DataFrame,
    updates_df: DataFrame,
    primary_key: str,
    attr_col_names: list[str],
    is_current_col_name: str,
    effective_time_col_name: str,
    end_time_col_name: str,
) -> DataFrame:
    """Pure transform: the post-upsert table contents, for the
    query/oracle surface. Column checks and the staged source are the
    table operator's own."""
    _check_scd_columns(
        base_df.columns, updates_df.columns, primary_key, attr_col_names,
        is_current_col_name, effective_time_col_name, end_time_col_name,
    )
    flag = is_current_col_name
    eff = effective_time_col_name
    end = end_time_col_name

    current = base_df.where(F.col(flag) == F.lit(True))
    history = base_df.where(~(F.col(flag) == F.lit(True)) | F.col(flag).isNull())
    staged = _staged_source(
        current, updates_df, primary_key, attr_col_names,
        dict(base_df.dtypes)[primary_key],
    )

    # -- MERGE as set algebra -------------------------------------------------
    src = staged.select(
        F.col("__merge_key"),
        F.col(primary_key).alias("__s_pk"),
        *[F.col(a).alias(f"__s_{a}") for a in attr_col_names],
        F.col(eff).alias("__s_eff"),
    )
    keyed_src = src.where(F.col("__merge_key").isNotNull())

    m = current.join(
        keyed_src, current[primary_key] == keyed_src["__merge_key"], "left"
    )
    matched_differs = F.col("__merge_key").isNotNull() & reduce(
        lambda x, y: x | y,
        [F.col(a) != F.col(f"__s_{a}") for a in attr_col_names],
    )
    closed = m.where(matched_differs).select(
        *[F.col(c) for c in [primary_key, *attr_col_names]],
        F.lit(False).alias(flag),
        F.col(eff),
        F.col("__s_eff").alias(end),
    )
    kept_current = m.where(~F.coalesce(matched_differs, F.lit(False))).select(
        *base_df.columns
    )

    inserted = (
        src.join(
            current.select(F.col(primary_key).alias("__t_pk")),
            src["__merge_key"] == F.col("__t_pk"),
            "left_anti",
        )
        .select(
            F.col("__s_pk").alias(primary_key),
            *[F.col(f"__s_{a}").alias(a) for a in attr_col_names],
            F.lit(True).alias(flag),
            F.col("__s_eff").alias(eff),
            F.lit(None).cast(dict(base_df.dtypes)[end]).alias(end),
        )
    )

    cols = base_df.columns
    return (
        history.select(*cols)
        .unionByName(kept_current.select(*cols))
        .unionByName(closed.select(*cols))
        .unionByName(inserted.select(*cols))
    )


def type_2_scd_upsert(
    table: LeviTable,
    updates_df,
    primary_key: str,
    attr_col_names: list[str],
    is_current_col_name: str,
    effective_time_col_name: str,
    end_time_col_name: str,
) -> dict:
    """File-targeted SCD2 upsert through the MERGE builder. Returns the
    merge result ``{"version", "files_rewritten"}`` (version -1 when
    the updates change nothing)."""
    from levi_spark.operators.merge import merge

    if not isinstance(table, LeviTable):
        raise TypeError(f"An existing LeviTable is required, got {type(table).__name__}")
    updates_df = as_spark_df(table.spark, updates_df)

    base_schema = table.snapshot().metadata.schema
    _check_scd_columns(
        base_schema.names, updates_df.columns, primary_key, attr_col_names,
        is_current_col_name, effective_time_col_name, end_time_col_name,
    )
    pk = primary_key
    flag = is_current_col_name
    eff = effective_time_col_name
    current = table.to_df().where(F.col(flag) == F.lit(True))
    staged = _staged_source(
        current, updates_df, pk, attr_col_names, base_schema[pk].dataType
    )

    attr_differs = " OR ".join(
        f"t.`{a}` != s.`{a}`" for a in attr_col_names
    )
    return (
        merge(table, staged, f"t.`{pk}` = s.__merge_key AND t.`{flag}` = true")
        .when_matched_update(
            condition=attr_differs,
            set={flag: "false", end_time_col_name: f"s.`{eff}`"},
        )
        .when_not_matched_insert(
            values={
                pk: f"s.`{pk}`",
                **{a: f"s.`{a}`" for a in attr_col_names},
                flag: "true",
                eff: f"s.`{eff}`",
                # end-time column omitted -> NULL (open version)
            }
        )
        .execute()
    )
