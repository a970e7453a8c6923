"""Checkpoint interop reads: multipart classic checkpoints and v2
checkpoints (UUID-named parquet/JSON manifests + _sidecars files),
per the Delta spec's checkpoint formats. Fixtures are handcrafted
foreign-style logs; both the driver fast path and the distributed
replay must agree."""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from levi_spark.delta.log import DeltaLog

SCHEMA_STR = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}}
        ],
    }
)


def _write_data(spark, path, lo, hi):
    before = {n for n in os.listdir(path) if n.endswith(".parquet")} if os.path.isdir(path) else set()
    spark.range(lo, hi).select("id").coalesce(1).write.mode("append").parquet(path)
    (new,) = {n for n in os.listdir(path) if n.endswith(".parquet")} - before
    return new


def _add_action(path, name, version_visible=True):
    return {
        "add": {
            "path": name,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(path, name)),
            "modificationTime": 0,
            "dataChange": True,
            "stats": None,
        }
    }


_META = {
    "metaData": {
        "id": "t-cp",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": SCHEMA_STR,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 0,
    }
}
_PROTO_V2 = {
    "protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint"],
    }
}
_PROTO_V1 = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}

# arrow schema for checkpoint action rows (adds + metaData + protocol)
_ARROW_ADD = pa.struct(
    [
        ("path", pa.string()),
        ("partitionValues", pa.map_(pa.string(), pa.string())),
        ("size", pa.int64()),
        ("modificationTime", pa.int64()),
        ("dataChange", pa.bool_()),
        ("stats", pa.string()),
    ]
)
_ARROW_META = pa.struct(
    [
        ("id", pa.string()),
        ("schemaString", pa.string()),
        ("partitionColumns", pa.list_(pa.string())),
        ("configuration", pa.map_(pa.string(), pa.string())),
        ("createdTime", pa.int64()),
    ]
)
_ARROW_PROTO = pa.struct(
    [
        ("minReaderVersion", pa.int32()),
        ("minWriterVersion", pa.int32()),
        ("readerFeatures", pa.list_(pa.string())),
        ("writerFeatures", pa.list_(pa.string())),
    ]
)
_ARROW_SIDECAR = pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64())])


def _cp_rows_to_table(rows, with_sidecar=False):
    fields = [
        ("add", _ARROW_ADD),
        ("metaData", _ARROW_META),
        ("protocol", _ARROW_PROTO),
    ]
    if with_sidecar:
        fields.append(("sidecar", _ARROW_SIDECAR))
    schema = pa.schema(fields)
    pylist = []
    for r in rows:
        rec = {name: None for name, _t in fields}
        for k, v in r.items():
            if k == "metaData":
                v = {kk: vv for kk, vv in v.items() if kk != "format"}
                v["partitionColumns"] = list(v["partitionColumns"])
                v["configuration"] = list((v.get("configuration") or {}).items())
            if k == "add":
                v = dict(v)
                v["partitionValues"] = list((v.get("partitionValues") or {}).items())
            rec[k] = v
        pylist.append(rec)
    return pa.Table.from_pylist(pylist, schema=schema)


def _commit(path, v, actions):
    with open(os.path.join(path, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_multipart_classic_checkpoint(spark, tmp_path):
    """<v>.checkpoint.<i>.<n>.parquet parts union to the action set;
    an incomplete part set is ignored (replay falls back to commits)."""
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log"))
    f0 = _write_data(spark, path, 0, 5)
    f1 = _write_data(spark, path, 5, 9)
    _commit(path, 0, [_PROTO_V1, _META, _add_action(path, f0)])
    _commit(path, 1, [_add_action(path, f1)])
    # checkpoint at v1, split into 2 parts
    part1 = _cp_rows_to_table([_PROTO_V1, _META, _add_action(path, f0)["add"] and {"add": _add_action(path, f0)["add"]}])
    part2 = _cp_rows_to_table([{"add": _add_action(path, f1)["add"]}])
    lp = os.path.join(path, "_delta_log")
    pq.write_table(part1, os.path.join(lp, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    pq.write_table(part2, os.path.join(lp, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))
    # delete the commits the checkpoint covers (forces checkpoint read)
    os.remove(os.path.join(lp, f"{0:020d}.json"))
    os.remove(os.path.join(lp, f"{1:020d}.json"))
    got = sorted(r.id for r in DeltaLog(spark, path).snapshot().to_df().collect())
    assert got == list(range(9))


def test_multipart_incomplete_is_ignored(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log"))
    f0 = _write_data(spark, path, 0, 5)
    _commit(path, 0, [_PROTO_V1, _META, _add_action(path, f0)])
    lp = os.path.join(path, "_delta_log")
    part1 = _cp_rows_to_table([{"add": _add_action(path, f0)["add"]}])
    # only part 1 of 2 exists
    pq.write_table(part1, os.path.join(lp, f"{0:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    got = sorted(r.id for r in DeltaLog(spark, path).snapshot().to_df().collect())
    assert got == list(range(5))  # read from the commit, not the fragment


@pytest.mark.parametrize("manifest_fmt", ["parquet", "json"])
def test_v2_checkpoint_with_sidecars(spark, tmp_path, manifest_fmt):
    """A v2 checkpoint: non-file actions in the manifest, add actions
    in _sidecars parquet files discovered through sidecar actions."""
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log", "_sidecars"))
    f0 = _write_data(spark, path, 0, 4)
    f1 = _write_data(spark, path, 4, 7)
    _commit(path, 0, [_PROTO_V2, _META, _add_action(path, f0)])
    _commit(path, 1, [_add_action(path, f1)])
    lp = os.path.join(path, "_delta_log")
    # two sidecars, one add each
    sc_names = []
    for fx in (f0, f1):
        n = f"{uuid.uuid4()}.parquet"
        pq.write_table(
            _cp_rows_to_table([{"add": _add_action(path, fx)["add"]}]),
            os.path.join(lp, "_sidecars", n),
        )
        sc_names.append(n)
    uid = uuid.uuid4()
    manifest_rows = [
        _PROTO_V2,
        _META,
        *(
            {"sidecar": {"path": n, "sizeInBytes": 1}}
            for n in sc_names
        ),
    ]
    if manifest_fmt == "parquet":
        pq.write_table(
            _cp_rows_to_table(manifest_rows, with_sidecar=True),
            os.path.join(lp, f"{1:020d}.checkpoint.{uid}.parquet"),
        )
    else:
        with open(os.path.join(lp, f"{1:020d}.checkpoint.{uid}.json"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in manifest_rows) + "\n")
    os.remove(os.path.join(lp, f"{0:020d}.json"))
    os.remove(os.path.join(lp, f"{1:020d}.json"))
    snap = DeltaLog(spark, path).snapshot()
    got = sorted(r.id for r in snap.to_df().collect())
    assert got == list(range(7))


def test_v2_checkpoint_then_later_commits(spark, tmp_path):
    """Commits after the v2 checkpoint replay on top of it."""
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log", "_sidecars"))
    f0 = _write_data(spark, path, 0, 4)
    _commit(path, 0, [_PROTO_V2, _META, _add_action(path, f0)])
    lp = os.path.join(path, "_delta_log")
    n = f"{uuid.uuid4()}.parquet"
    pq.write_table(
        _cp_rows_to_table([{"add": _add_action(path, f0)["add"]}]),
        os.path.join(lp, "_sidecars", n),
    )
    uid = uuid.uuid4()
    pq.write_table(
        _cp_rows_to_table(
            [_PROTO_V2, _META, {"sidecar": {"path": n, "sizeInBytes": 1}}],
            with_sidecar=True,
        ),
        os.path.join(lp, f"{0:020d}.checkpoint.{uid}.parquet"),
    )
    os.remove(os.path.join(lp, f"{0:020d}.json"))
    f1 = _write_data(spark, path, 100, 103)
    _commit(path, 1, [_add_action(path, f1)])
    got = sorted(r.id for r in DeltaLog(spark, path).snapshot().to_df().collect())
    assert got == [0, 1, 2, 3, 100, 101, 102]


# ---- writer side: write_checkpoint(format="v2") ----------------------------

def _mk_table(spark, path):
    from levi_spark.delta.dv import soft_delete
    from levi_spark.delta.writer import write_delta

    write_delta(
        spark.range(12).selectExpr("id", "id * 2 AS v").coalesce(2),
        path, mode="error", txn=("app-x", 3),
    )
    write_delta(
        spark.range(12, 18).selectExpr("id", "id * 2 AS v").coalesce(1),
        path, mode="append",
    )
    soft_delete(spark, path, "id IN (1, 13)")


def test_write_v2_checkpoint_and_expire(spark, tmp_path):
    """Our own v2 checkpoint (JSON manifest + _sidecars parquet)
    carries the full reconciled state: after expiring every commit,
    content, metadata, DVs and SetTransactions all survive."""
    from levi_spark.delta.checkpoint import expire_log, write_checkpoint

    path = str(tmp_path / "t")
    _mk_table(spark, path)
    want = sorted(
        (r.id, r.v)
        for r in DeltaLog(spark, path).snapshot().to_df().collect()
    )
    v = write_checkpoint(spark, path, format="v2")
    assert v == 3  # +1: the v2Checkpoint protocol-upgrade commit
    manifests = [
        n
        for n in os.listdir(os.path.join(path, "_delta_log"))
        if ".checkpoint." in n and n.endswith(".json")
    ]
    assert len(manifests) == 1
    assert os.listdir(os.path.join(path, "_delta_log", "_sidecars"))
    expire_log(spark, path)
    assert not [
        n
        for n in os.listdir(os.path.join(path, "_delta_log"))
        if n.endswith(".json") and n[:20].isdigit() and ".checkpoint." not in n
    ]
    snap = DeltaLog(spark, path).snapshot()
    got = sorted((r.id, r.v) for r in snap.to_df().collect())
    assert got == want
    assert snap.txn_versions().get("app-x") == 3
    assert snap.metadata.schema.fieldNames() == ["id", "v"]


def test_commits_after_v2_checkpoint_replay(spark, tmp_path):
    from levi_spark.delta.checkpoint import write_checkpoint
    from levi_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    _mk_table(spark, path)
    write_checkpoint(spark, path, format="v2")
    write_delta(
        spark.range(100, 103).selectExpr("id", "id * 2 AS v").coalesce(1),
        path, mode="append",
    )
    got = {r.id for r in DeltaLog(spark, path).snapshot().to_df().collect()}
    assert {100, 101, 102} <= got and 1 not in got


def test_bad_checkpoint_format_refused(spark, tmp_path):
    from levi_spark.delta.checkpoint import write_checkpoint
    from levi_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    write_delta(spark.range(3).selectExpr("id"), path, mode="error")
    with pytest.raises(ValueError, match="classic.*v2"):
        write_checkpoint(spark, path, format="v3")


# ---- typeWidening reads ----------------------------------------------------

def test_type_widening_reads_upcast_old_files(spark, tmp_path):
    """A foreign table whose schema was WIDENED (int->long,
    float->double) after the first file was written: the snapshot reads
    with the latest schema and the parquet scan upcasts the old narrow
    file natively; the typeChanges metadata rides the schema."""
    import pyspark.sql.types as T

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log"))
    narrow = spark.range(4).selectExpr(
        "CAST(id AS INT) AS a", "CAST(id AS FLOAT) AS b"
    )
    f0 = None
    before = set(os.listdir(path))
    narrow.coalesce(1).write.mode("append").parquet(path)
    (f0,) = {n for n in os.listdir(path) if n.endswith(".parquet")} - before
    wide_schema = {
        "type": "struct",
        "fields": [
            {"name": "a", "type": "long", "nullable": True,
             "metadata": {"delta.typeChanges": [
                 {"fromType": "integer", "toType": "long",
                  "tableVersion": 1}]}},
            {"name": "b", "type": "double", "nullable": True,
             "metadata": {"delta.typeChanges": [
                 {"fromType": "float", "toType": "double",
                  "tableVersion": 1}]}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        {"metaData": {
            "id": "t-w", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(wide_schema),
            "partitionColumns": [], "configuration": {}, "createdTime": 0}},
        {"add": {"path": f0, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(path, f0)),
                 "modificationTime": 0, "dataChange": True, "stats": None}},
    ]
    _commit(path, 0, actions)
    df = DeltaLog(spark, path).snapshot().to_df()
    assert [f.dataType for f in df.schema.fields[:2]] == [
        T.LongType(), T.DoubleType()
    ]
    assert sorted(map(tuple, df.collect())) == [
        (i, float(i)) for i in range(4)
    ]


def test_type_widening_date_to_timestamp_reads(spark, tmp_path):
    """Even the date -> timestampNtz widening reads correctly: Spark's
    parquet scan upcasts DATE-written files under a timestamp_ntz read
    schema (empirically probed on this build)."""
    import datetime

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log"))
    before = set()
    spark.sql(
        "SELECT DATE'2024-01-02' AS d UNION ALL SELECT DATE'2024-03-04'"
    ).coalesce(1).write.mode("append").parquet(path)
    (f0,) = {n for n in os.listdir(path) if n.endswith(".parquet")} - before
    schema = {
        "type": "struct",
        "fields": [
            {"name": "d", "type": "timestamp_ntz", "nullable": True,
             "metadata": {"delta.typeChanges": [
                 {"fromType": "date", "toType": "timestampNtz",
                  "tableVersion": 1}]}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening", "timestampNtz"],
                      "writerFeatures": ["typeWidening", "timestampNtz"]}},
        {"metaData": {
            "id": "t-dw", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [], "configuration": {}, "createdTime": 0}},
        {"add": {"path": f0, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(path, f0)),
                 "modificationTime": 0, "dataChange": True, "stats": None}},
    ]
    _commit(path, 0, actions)
    got = sorted(r.d for r in DeltaLog(spark, path).snapshot().to_df().collect())
    assert got == [
        datetime.datetime(2024, 1, 2, 0, 0),
        datetime.datetime(2024, 3, 4, 0, 0),
    ]


def test_variant_type_reads(spark, tmp_path):
    """variantType tables read natively: the schemaString's 'variant'
    parses to VariantType, the parquet scan reads the binary
    metadata/value pair, and variant_get extracts fields."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log"))
    df = spark.range(4).select(
        "id",
        F.parse_json(
            F.concat(F.lit('{"a": '), (F.col("id") * 10).cast("string"),
                     F.lit("}"))
        ).alias("j"),
    )
    before = set()
    df.coalesce(1).write.mode("append").parquet(path)
    (f0,) = {n for n in os.listdir(path) if n.endswith(".parquet")} - before
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "j", "type": "variant", "nullable": True, "metadata": {}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"],
                      "writerFeatures": ["variantType"]}},
        {"metaData": {
            "id": "t-var", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [], "configuration": {}, "createdTime": 0}},
        {"add": {"path": f0, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(path, f0)),
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 4})}},
    ]
    _commit(path, 0, actions)
    got = sorted(
        (r.id, r.a)
        for r in DeltaLog(spark, path)
        .snapshot()
        .to_df()
        .select("id", F.expr("variant_get(j, '$.a', 'long')").alias("a"))
        .collect()
    )
    assert got == [(i, i * 10) for i in range(4)]


def test_variant_shredding_reads(spark, tmp_path):
    """Round-7 surface: a PHYSICALLY SHREDDED variant fixture (Spark's
    native writeShredding lays out metadata/value/typed_value columns;
    asserted via the footer) reads back value-exact through a log that
    demands the variantShredding-preview reader feature — typed fields,
    a residual string field, and missing-path nulls."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_delta_log"))
    df = spark.range(20).select(
        "id",
        F.parse_json(
            F.concat(
                F.lit('{"a": '), (F.col("id") * 7).cast("string"),
                F.lit(', "b": "x'), (F.col("id") % 4).cast("string"),
                F.lit('"}'),
            )
        ).alias("j"),
    )
    spark.conf.set("spark.sql.variant.writeShredding.enabled", "true")
    spark.conf.set("spark.sql.variant.inferShreddingSchema", "true")
    try:
        df.coalesce(1).write.mode("append").parquet(path)
    finally:
        spark.conf.set("spark.sql.variant.writeShredding.enabled", "false")
        spark.conf.set("spark.sql.variant.inferShreddingSchema", "false")
    (f0,) = [n for n in os.listdir(path) if n.endswith(".parquet")]
    with open(os.path.join(path, f0), "rb") as fh:
        assert b"typed_value" in fh.read(), "fixture did not shred"
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "j", "type": "variant", "nullable": True, "metadata": {}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType",
                                         "variantShredding-preview"],
                      "writerFeatures": ["variantType",
                                         "variantShredding-preview"]}},
        {"metaData": {
            "id": "t-shred", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [], "configuration": {}, "createdTime": 0}},
        {"add": {"path": f0, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(path, f0)),
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({"numRecords": 20})}},
    ]
    _commit(path, 0, actions)
    got = sorted(
        (r.id, r.a, r.b, r.missing)
        for r in DeltaLog(spark, path)
        .snapshot()
        .to_df()
        .select(
            "id",
            F.expr("variant_get(j, '$.a', 'long')").alias("a"),
            F.expr("variant_get(j, '$.b', 'string')").alias("b"),
            F.expr("variant_get(j, '$.nope', 'long')").alias("missing"),
        )
        .collect()
    )
    assert got == [(i, i * 7, f"x{i % 4}", None) for i in range(20)]
