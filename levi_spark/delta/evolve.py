"""Type widening — the WRITE side of the ``typeWidening`` table
feature this engine's reader has accepted since round 6.

``widen_column(spark, path, column, to_type)`` publishes a
METADATA-ONLY commit: the column's type is replaced by a strictly
wider one from the spec's allowed matrix, the field's metadata gains
a ``delta.typeChanges`` entry recording {fromType, toType,
tableVersion}, and the protocol upgrades to reader 3 / writer 7 with
``typeWidening`` on both sides (it is a genuine reader feature: old
files stay written at the NARROW physical type, and a reader unaware
of widening would take the parquet footer's type over the schema's
and mis-reassemble). No data file is touched — the whole operation is
O(1) in table size, which is exactly why type widening exists (an
int->long migration on a 100 TB table rewrites nothing).

Allowed widenings (the spec's stable set for integral/floating
types; decimal/date widenings are not implemented here and refuse):
byte->short/int/long, short->int/long, int->long, float->double.
Anything else raises — silently recording an unsupported change
would corrupt every reader.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import commit, merge_protocol

_WIDENINGS: dict[str, set[str]] = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}

_TYPES: dict[str, T.DataType] = {
    "byte": T.ByteType(),
    "short": T.ShortType(),
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
}


def widen_column(
    spark: SparkSession, table_path: str, column: str, to_type: str
) -> int:
    """Widen ``column`` to ``to_type`` in a metadata-only commit;
    returns the committed version. Appends after the widening write
    files at the NEW (wide) type; files written before it keep the
    narrow physical type and upcast at scan time."""
    to_type = {"int": "integer"}.get(to_type, to_type)
    log = DeltaLog(spark, table_path)
    snap = log.snapshot()
    meta = snap.metadata
    fields = []
    hit = False
    for f in meta.schema.fields:
        if f.name != column:
            fields.append(f)
            continue
        hit = True
        from_name = f.dataType.typeName()
        if to_type not in _WIDENINGS.get(from_name, set()):
            raise ValueError(
                f"widening {from_name} -> {to_type} on '{column}' is not "
                "in the supported matrix (byte/short/int -> wider "
                "integral, float -> double)"
            )
        md = dict(f.metadata or {})
        changes = list(md.get("delta.typeChanges", []))
        changes.append(
            {
                "fromType": from_name,
                "toType": to_type,
                "tableVersion": snap.version + 1,
            }
        )
        md["delta.typeChanges"] = changes
        fields.append(
            T.StructField(f.name, _TYPES[to_type], f.nullable, md)
        )
    if not hit:
        raise ValueError(f"column '{column}' not in table schema")
    if column in meta.partition_columns:
        raise ValueError(f"cannot widen partition column '{column}'")

    new_schema = T.StructType(fields)
    proto = merge_protocol(
        snap.protocol,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["typeWidening"],
            "writerFeatures": ["typeWidening"],
        },
    )
    # schema changes never blind-rebase: a racing commit may itself
    # have evolved the schema this widening was computed from
    return commit(
        log.log_path, snap.version + 1, [],
        operation="WIDEN COLUMN TYPE",
        params={"column": column, "toType": to_type},
        metadata=replace(meta, schema=new_schema),
        protocol=proto,
    )
