"""CHECK constraints (public Delta protocol ``delta.constraints.*``
table configuration).

Semantics mirror the spec: a constraint is a SQL boolean expression
stored under ``delta.constraints.<name>``; a row violates it only when
the expression evaluates to FALSE (NULL passes, like SQL CHECK).
``ADD CONSTRAINT`` validates the whole existing table first; every
subsequent data commit through :func:`levi_spark.delta.writer.
write_delta` re-validates the incoming rows and refuses the commit on
violation.

Scale shape: enforcement is one aggregate over the *staged* output
files with only the constraint's referenced columns decoded (Catalyst
prunes the scan), folded into a single job for all constraints — no
per-row Python, no driver-side row loops. ADD CONSTRAINT's full-table
validation is the same single aggregate over the current snapshot.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONSTRAINT_PREFIX = "delta.constraints."


class CheckConstraintViolation(ValueError):
    """Incoming rows (or existing table data, for ADD CONSTRAINT)
    evaluate a CHECK constraint to FALSE."""


class NotNullViolation(ValueError):
    """Incoming rows carry NULL in a column the table schema declares
    non-nullable (Delta's NOT NULL invariant)."""


def constraints_from_config(configuration: dict[str, str]) -> dict[str, str]:
    return {
        k[len(CONSTRAINT_PREFIX):]: v
        for k, v in (configuration or {}).items()
        if k.startswith(CONSTRAINT_PREFIX)
    }


def violation_counts(df: DataFrame, constraints: dict[str, str]) -> dict[str, int]:
    """Rows per constraint evaluating to FALSE — ONE aggregate job for
    all constraints (NULL results pass, SQL CHECK semantics)."""
    if not constraints:
        return {}
    aggs = [
        F.sum(
            F.when(F.expr(expr).isNull() | F.expr(expr), 0).otherwise(1)
        ).alias(name)
        for name, expr in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    return {name: int(row[name] or 0) for name in constraints}


def enforce_constraints(df: DataFrame, configuration: dict[str, str]) -> None:
    """Raise :class:`CheckConstraintViolation` if any row of ``df``
    violates any configured constraint."""
    bad = {n: c for n, c in violation_counts(
        df, constraints_from_config(configuration)
    ).items() if c > 0}
    if bad:
        detail = ", ".join(f"{n!r}: {c} rows" for n, c in sorted(bad.items()))
        raise CheckConstraintViolation(f"CHECK constraint violated — {detail}")


def _set_configuration(snap, conf: dict[str, str]) -> int:
    """Publish a metadata-only commit carrying ``conf`` (schema,
    partitioning, table id and protocol unchanged — a config commit
    must never downgrade a feature-upgraded table). Optimistic: a
    concurrent commit surfaces as the writer's retryable ValueError."""
    from dataclasses import replace

    from levi_spark.delta.writer import commit

    return commit(
        snap.log.log_path, snap.version + 1, [],
        operation="SET TBLPROPERTIES",
        params={},
        metadata=replace(snap.metadata, configuration=conf),
        protocol=snap.protocol,
    )


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``: validates the
    expression against the table schema AND the full current contents,
    then records it in table configuration. Returns the commit version."""
    from levi_spark.delta.log import DeltaLog

    if not name or not name.replace("_", "").isalnum():
        raise ValueError(f"constraint name must be alphanumeric/underscore: {name!r}")
    log = DeltaLog(spark, path)
    snap = log.snapshot()
    conf = dict(snap.metadata.configuration)
    key = CONSTRAINT_PREFIX + name
    if key in conf:
        raise ValueError(f"constraint {name!r} already exists: {conf[key]}")
    current = snap.to_df()
    # schema validation: analysis error surfaces here, before any commit
    current.select(F.expr(expr).cast("boolean")).schema
    bad = violation_counts(current, {name: expr})
    if bad.get(name, 0) > 0:
        raise CheckConstraintViolation(
            f"cannot add constraint {name!r}: {bad[name]} existing rows violate "
            f"({expr})"
        )
    conf[key] = expr
    return _set_configuration(snap, conf)


def drop_check_constraint(spark: SparkSession, path: str, name: str) -> int:
    """``ALTER TABLE DROP CONSTRAINT name``; raises KeyError if absent."""
    from levi_spark.delta.log import DeltaLog

    snap = DeltaLog(spark, path).snapshot()
    conf = dict(snap.metadata.configuration)
    key = CONSTRAINT_PREFIX + name
    if key not in conf:
        raise KeyError(f"no such constraint: {name!r}")
    del conf[key]
    return _set_configuration(snap, conf)


def set_table_properties(
    spark: SparkSession, path: str, properties: dict[str, str]
) -> int:
    """``ALTER TABLE SET TBLPROPERTIES``: merge ``properties`` into the
    table configuration in one metadata-only commit (a value of None
    unsets the key). The general entry point for feature flags like
    ``delta.enableInCommitTimestamps`` — constraint add/drop are the
    specialized callers of the same commit shape."""
    from levi_spark.delta.log import DeltaLog

    snap = DeltaLog(spark, path).snapshot()
    conf = dict(snap.metadata.configuration or {})
    for k, v in properties.items():
        if v is None:
            conf.pop(k, None)
        else:
            conf[k] = str(v)
    return _set_configuration(snap, conf)
