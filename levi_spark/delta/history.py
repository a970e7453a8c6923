"""DESCRIBE HISTORY: the table's commit log as a DataFrame — the
operational surface every Delta user reaches for first when auditing a
table (who wrote what, when, and how big).

Driver-side by construction: the log dir is O(versions) and each row
needs only that commit's JSON, so this is a metadata read with zero
Spark jobs until the caller acts on the frame. Commits expired into a
checkpoint no longer have per-commit JSON, so (matching Delta) history
starts at the oldest surviving commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from levi_spark.delta.log import DeltaLog

_HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("version", T.LongType(), False),
        T.StructField("timestamp_ms", T.LongType()),
        T.StructField("operation", T.StringType()),
        T.StructField("operation_parameters", T.MapType(T.StringType(), T.StringType())),
        T.StructField("engine_info", T.StringType()),
        T.StructField("n_adds", T.LongType(), False),
        T.StructField("n_removes", T.LongType(), False),
        T.StructField("n_cdc_files", T.LongType(), False),
        T.StructField("has_txn", T.BooleanType(), False),
    ]
)


def describe_history(spark: SparkSession, table_path: str) -> DataFrame:
    """One row per surviving commit, newest first."""
    log = DeltaLog(spark, table_path)
    commits, _cps = log._entries()
    rows = []
    for v in sorted(commits, reverse=True):
        ts = op = engine = None
        params: dict[str, str] = {}
        n_adds = n_removes = n_cdc = 0
        has_txn = False
        for d in log.commit_actions(v):
            if "add" in d:
                n_adds += 1
            elif "remove" in d:
                n_removes += 1
            elif "cdc" in d:
                n_cdc += 1
            elif "txn" in d:
                has_txn = True
            elif "commitInfo" in d:
                ci = d["commitInfo"]
                ts = ci.get("timestamp")
                op = ci.get("operation")
                engine = ci.get("engineInfo")
                params = {
                    k: str(x)
                    for k, x in (ci.get("operationParameters") or {}).items()
                }
        rows.append((v, ts, op, params, engine, n_adds, n_removes, n_cdc, has_txn))
    return spark.createDataFrame(rows, _HISTORY_SCHEMA)


def describe_detail(spark: SparkSession, table_path: str) -> DataFrame:
    """``DESCRIBE DETAIL``: one row of table-level facts — format, id,
    location, createdAt/lastModified (epoch ms), partitionColumns,
    numFiles, sizeInBytes, and the table properties/configuration —
    assembled from the snapshot's metadata and live add set. The file
    census comes from the (metadata-plane) add actions, so the call is
    O(live files) and never touches data."""
    from levi_spark.delta.log import DeltaLog

    log = DeltaLog(spark, table_path)
    snap = log.snapshot()
    meta = snap.metadata
    adds = [r["add"] for r in snap.live_adds_collected()]
    # createdAt is metaData.createdTime (what Delta's DESCRIBE DETAIL
    # reports): persisted in the metaData action, it survives checkpoint
    # + log expiry, while the earliest *surviving* commit timestamp
    # drifts forward as old commits are expired. Commit timestamps are
    # used only for lastModified; when every commit json has been
    # expired (checkpoint-only log) fall back to createdAt so the pair
    # stays comparable (createdAt <= lastModified) instead of NULL.
    created = meta.created_time
    stamps = dict(log.commit_timestamps())
    last_modified = stamps[max(stamps)] if stamps else created
    row = {
        "format": "delta",
        "id": meta.id,
        "location": log.table_path,
        "createdAt": created,
        "lastModified": last_modified,
        "partitionColumns": list(meta.partition_columns),
        "numFiles": len(adds),
        "sizeInBytes": int(sum(a["size"] or 0 for a in adds)),
        "properties": dict(meta.configuration),
    }
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("format", T.StringType()),
            T.StructField("id", T.StringType()),
            T.StructField("location", T.StringType()),
            T.StructField("createdAt", T.LongType()),
            T.StructField("lastModified", T.LongType()),
            T.StructField("partitionColumns", T.ArrayType(T.StringType())),
            T.StructField("numFiles", T.LongType()),
            T.StructField("sizeInBytes", T.LongType()),
            T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        ]
    )
    return spark.createDataFrame([tuple(row[f.name] for f in schema.fields)], schema)
