"""Column mapping reads: 'name' mode — tables whose parquet files carry
UUID-style physical column names resolve back to logical names via the
schemaString's delta.columnMapping.physicalName metadata; 'id' mode —
columns resolve by PARQUET FIELD ID (the authoritative key per the
Delta spec), proven here with files whose on-disk column names match
NEITHER the logical nor the physicalName — only the ids line up.
Writes to mapped tables stay refused."""

import json
import os

import pytest

from pyspark.sql import types as T

from levi_spark.delta.log import DeltaLog, UnsupportedTableFeatureError
from levi_spark.delta.writer import write_delta

PHYS_K, PHYS_S, PHYS_P = "col-9a1b", "col-77fe", "col-p0ab"


def _schema_string(with_partition):
    fields = [
        {
            "name": "k",
            "type": "long",
            "nullable": True,
            "metadata": {"delta.columnMapping.id": 1,
                         "delta.columnMapping.physicalName": PHYS_K},
        },
        {
            "name": "s",
            "type": "string",
            "nullable": True,
            "metadata": {"delta.columnMapping.id": 2,
                         "delta.columnMapping.physicalName": PHYS_S},
        },
    ]
    if with_partition:
        fields.append(
            {
                "name": "p",
                "type": "integer",
                "nullable": True,
                "metadata": {"delta.columnMapping.id": 3,
                             "delta.columnMapping.physicalName": PHYS_P},
            }
        )
    return json.dumps({"type": "struct", "fields": fields})


def _mk_mapped(spark, path, mode="name", with_partition=False):
    os.makedirs(os.path.join(path, "_delta_log"))
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], f"`{PHYS_K}` BIGINT, `{PHYS_S}` STRING"
    )
    df.coalesce(1).write.mode("append").parquet(path)
    data = [
        n for n in os.listdir(path) if n.endswith(".parquet")
    ]
    stats = json.dumps(
        {
            "numRecords": 2,
            "minValues": {PHYS_K: 1, PHYS_S: "a"},
            "maxValues": {PHYS_K: 2, PHYS_S: "b"},
            "nullCount": {PHYS_K: 0, PHYS_S: 0},
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "t-1",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_string(with_partition),
                "partitionColumns": ["p"] if with_partition else [],
                "configuration": {"delta.columnMapping.mode": mode},
                "createdTime": 0,
            }
        },
    ]
    for n in data:
        actions.append(
            {
                "add": {
                    "path": n,
                    "partitionValues": {PHYS_P: "7"} if with_partition else {},
                    "size": os.path.getsize(os.path.join(path, n)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": stats,
                }
            }
        )
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_name_mode_reads_logical_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_mapped(spark, path)
    df = DeltaLog(spark, path).snapshot().to_df()
    assert df.columns == ["k", "s"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]


def test_name_mode_partition_values(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_mapped(spark, path, with_partition=True)
    df = DeltaLog(spark, path).snapshot().to_df()
    assert df.columns == ["k", "s", "p"]
    assert sorted(map(tuple, df.collect())) == [(1, "a", 7), (2, "b", 7)]


def test_name_mode_stats_resolve_logical(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_mapped(spark, path)
    adds = DeltaLog(spark, path).snapshot().add_actions().collect()
    st = adds[0]["stats"]
    assert st["minValues"]["k"] == 1 and st["maxValues"]["s"] == "b"
    assert adds[0]["num_records"] == 2


def _mk_id_mapped(spark, path, disk_names=("zz_first", "zz_second")):
    """An id-mode table whose parquet file uses on-disk column names
    matching NEITHER the logical names (k, s) nor the log's
    physicalName (col-9a1b, col-77fe) — only the parquet field ids
    (1, 2) agree with delta.columnMapping.id. A name-resolving reader
    would return all NULLs; an id-resolving reader returns the data."""
    os.makedirs(os.path.join(path, "_delta_log"))
    schema = T.StructType(
        [
            T.StructField(
                disk_names[0], T.LongType(), True, {"parquet.field.id": 1}
            ),
            T.StructField(
                disk_names[1], T.StringType(), True, {"parquet.field.id": 2}
            ),
        ]
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    prev = spark.conf.get("spark.sql.parquet.fieldId.write.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try:
        df.coalesce(1).write.mode("append").parquet(path)
    finally:
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", prev)
    data = [n for n in os.listdir(path) if n.endswith(".parquet")]
    stats = json.dumps(
        {
            "numRecords": 2,
            "minValues": {PHYS_K: 1, PHYS_S: "a"},
            "maxValues": {PHYS_K: 2, PHYS_S: "b"},
            "nullCount": {PHYS_K: 0, PHYS_S: 0},
        }
    )
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "t-id",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_string(False),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
                "createdTime": 0,
            }
        },
    ]
    for n in data:
        actions.append(
            {
                "add": {
                    "path": n,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(path, n)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": stats,
                }
            }
        )
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_id_mode_resolves_by_field_id(spark, tmp_path):
    """The discriminating case: on-disk names are foreign, ids rule."""
    path = str(tmp_path / "t")
    _mk_id_mapped(spark, path)
    df = DeltaLog(spark, path).snapshot().to_df()
    assert df.columns == ["k", "s"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]


def test_id_mode_stats_resolve_logical(spark, tmp_path):
    """Stats JSON is keyed by physicalName in id mode too (delta-spark
    behavior) and still surfaces under logical names."""
    path = str(tmp_path / "t")
    _mk_id_mapped(spark, path)
    adds = DeltaLog(spark, path).snapshot().add_actions().collect()
    st = adds[0]["stats"]
    assert st["minValues"]["k"] == 1 and st["maxValues"]["s"] == "b"


def test_id_mode_name_match_would_fail(spark, tmp_path):
    """Sanity for the fixture's discriminating power: reading the same
    file by the log's physicalName (no ids) yields NULLs, proving the
    id path is what makes test_id_mode_resolves_by_field_id pass."""
    path = str(tmp_path / "t")
    _mk_id_mapped(spark, path)
    files = [
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.endswith(".parquet")
    ]
    by_name = spark.read.schema(
        f"`{PHYS_K}` BIGINT, `{PHYS_S}` STRING"
    ).parquet(*files)
    rows = by_name.collect()
    assert all(r[PHYS_K] is None and r[PHYS_S] is None for r in rows)


def test_unknown_mapping_mode_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_mapped(spark, path, mode="bogus")
    with pytest.raises(UnsupportedTableFeatureError, match="bogus"):
        DeltaLog(spark, path).snapshot().to_df()


def test_write_to_mapped_table_refused(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_mapped(spark, path)
    df = spark.createDataFrame([(3, "c")], "k BIGINT, s STRING")
    with pytest.raises(NotImplementedError, match="column-mapped"):
        write_delta(df, path, mode="append")


def _pn(name):
    return {"delta.columnMapping.physicalName": name}


def test_physical_schema_recurses_map_values_and_nested_arrays():
    from levi_spark.delta.log import TableMetadata

    schema = T.StructType(
        [
            T.StructField(
                "m",
                T.MapType(
                    T.StringType(),
                    T.StructType(
                        [T.StructField("inner", T.LongType(), True, _pn("col-i"))]
                    ),
                ),
                True,
                _pn("col-m"),
            ),
            T.StructField(
                "aa",
                T.ArrayType(
                    T.ArrayType(
                        T.StructType(
                            [T.StructField("deep", T.StringType(), True, _pn("col-d"))]
                        )
                    )
                ),
                True,
                _pn("col-aa"),
            ),
        ]
    )
    meta = TableMetadata(
        id="x",
        schema=schema,
        partition_columns=[],
        configuration={"delta.columnMapping.mode": "name"},
    )
    phys = meta.physical_schema
    assert phys["col-m"].dataType.valueType.fieldNames() == ["col-i"]
    assert phys["col-aa"].dataType.elementType.elementType.fieldNames() == [
        "col-d"
    ]
