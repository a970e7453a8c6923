"""Read-side Delta protocol enforcement: tables whose protocol demands
reader capabilities this engine lacks must be REFUSED, not misread.
(The public Delta protocol spec defines minReaderVersion 3 +
readerFeatures; standard roaring-bitmap deletion vectors and v2
checkpoints are not implemented here, so a table declaring them would
silently return deleted rows / miss log entries if we kept reading.)
"""

import json
import os

import pytest

from levi_spark.delta.log import DeltaLog, UnsupportedTableFeatureError
from levi_spark.delta.writer import write_delta


def _mk_table(spark, path):
    write_delta(
        spark.range(5).withColumnRenamed("id", "k"),
        path,
        mode="error",
    )


def _append_protocol_commit(path, protocol):
    log_dir = os.path.join(path, "_delta_log")
    versions = [
        int(f[:20]) for f in os.listdir(log_dir) if f.endswith(".json")
    ]
    v = max(versions) + 1
    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": protocol}) + "\n")


def test_v1_reads_fine(spark, tmp_path):
    path = str(tmp_path / "t1")
    _mk_table(spark, path)
    assert DeltaLog(spark, path).snapshot().to_df().count() == 5


def test_reader_v3_unsupported_feature_refused(spark, tmp_path):
    path = str(tmp_path / "t2")
    _mk_table(spark, path)
    _append_protocol_commit(
        path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            # a real Delta reader feature this engine does not
            # implement (commit coordination lives outside the log)
            "readerFeatures": ["catalogOwned-preview"],
            "writerFeatures": ["catalogOwned-preview"],
        },
    )
    with pytest.raises(UnsupportedTableFeatureError, match="catalogOwned"):
        DeltaLog(spark, path).snapshot().to_df()


def _make_collated_table(spark, path, collation):
    """A Delta table whose string column declares a collation (Delta
    collated-string-type RFC: the ``__COLLATIONS`` field-metadata key
    maps field path -> identifier), protocol v3 with the
    collations-preview reader feature."""
    from pyspark.sql import Row

    write_delta(
        spark.createDataFrame(
            [Row(k=i, s=v) for i, v in enumerate(["abc", "ABC", "xyz"])]
        ),
        path,
        mode="error",
    )
    log_dir = os.path.join(path, "_delta_log")
    with open(os.path.join(log_dir, f"{0:020d}.json")) as f:
        meta = next(
            json.loads(line)["metaData"]
            for line in f
            if "metaData" in json.loads(line)
        )
    schema = json.loads(meta["schemaString"])
    for fld in schema["fields"]:
        if fld["name"] == "s":
            fld["metadata"] = {"__COLLATIONS": {"s": collation}}
    meta["schemaString"] = json.dumps(schema)
    proto = {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["collations-preview"],
        "writerFeatures": ["collations-preview"],
    }
    with open(os.path.join(log_dir, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": proto}) + "\n")
        f.write(json.dumps({"metaData": meta}) + "\n")


def test_collated_reads_apply_real_semantics(spark, tmp_path):
    """Collated string columns read back as Spark 4 collated
    StringTypes with the REAL comparison semantics — a UTF8_LCASE
    equality matches case-insensitively through the DeltaLog scan."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = str(tmp_path / "t2b")
    _make_collated_table(spark, path, "SPARK.UTF8_LCASE")
    df = DeltaLog(spark, path).snapshot().to_df()
    (sfield,) = [f for f in df.schema.fields if f.name == "s"]
    assert sfield.dataType == T.StringType("UTF8_LCASE")
    assert df.where(F.col("s") == "abc").count() == 2  # 'abc' and 'ABC'


def test_collated_icu_reads_and_unknown_provider_fails(spark, tmp_path):
    """ICU collations resolve through Spark's collation registry;
    junk providers fail loudly at schema parse instead of misreading."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t2c")
    _make_collated_table(spark, path, "ICU.UNICODE_CI")
    df = DeltaLog(spark, path).snapshot().to_df()
    assert df.where(F.col("s") == "aBc").count() == 2

    path2 = str(tmp_path / "t2d")
    _make_collated_table(spark, path2, "JUNK.NOT_A_COLLATION")
    with pytest.raises(Exception):
        DeltaLog(spark, path2).snapshot().to_df().collect()


def test_reader_v3_supported_features_ok(spark, tmp_path):
    path = str(tmp_path / "t3")
    _mk_table(spark, path)
    _append_protocol_commit(
        path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz", "vacuumProtocolCheck"],
            "writerFeatures": ["timestampNtz"],
        },
    )
    assert DeltaLog(spark, path).snapshot().to_df().count() == 5


def test_reader_v2_without_mapping_ok(spark, tmp_path):
    path = str(tmp_path / "t4")
    _mk_table(spark, path)
    _append_protocol_commit(
        path, {"minReaderVersion": 2, "minWriterVersion": 5}
    )
    assert DeltaLog(spark, path).snapshot().to_df().count() == 5


def test_future_reader_version_refused(spark, tmp_path):
    path = str(tmp_path / "t5")
    _mk_table(spark, path)
    _append_protocol_commit(path, {"minReaderVersion": 9, "minWriterVersion": 9})
    with pytest.raises(UnsupportedTableFeatureError, match="minReaderVersion 9"):
        DeltaLog(spark, path).snapshot().to_df()


def test_collated_write_declares_feature_and_round_trips(spark, tmp_path):
    """Writer side: a DataFrame with a collated string column
    persists the collation into schemaString (__COLLATIONS via
    StructType.json()), declares collations-preview as a WRITER
    feature only (the RFC lets readers without support fall back to
    binary collation, so a reader feature would lock standard readers
    out for nothing — r07 ADVICE), and reads back with the collation
    semantics intact."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = str(tmp_path / "t2e")
    df = spark.createDataFrame(
        [Row(k=i, s=v) for i, v in enumerate(["abc", "ABC", "xyz"])]
    ).select("k", F.collate(F.col("s"), "UTF8_LCASE").alias("s"))
    write_delta(df, path, mode="error")

    with open(os.path.join(path, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    (proto,) = [a["protocol"] for a in actions if "protocol" in a]
    assert "collations-preview" in proto["writerFeatures"]
    # NOT a reader requirement: unsupporting readers read binary
    assert "collations-preview" not in (proto.get("readerFeatures") or [])
    assert proto["minReaderVersion"] == 1
    (meta,) = [a["metaData"] for a in actions if "metaData" in a]
    assert "__COLLATIONS" in meta["schemaString"]

    out = DeltaLog(spark, path).snapshot().to_df()
    (sfield,) = [f for f in out.schema.fields if f.name == "s"]
    assert sfield.dataType == T.StringType("UTF8_LCASE")
    assert out.where(F.col("s") == "abc").count() == 2

    # plain-string tables keep protocol v1 — no spurious feature
    path2 = str(tmp_path / "t2f")
    write_delta(
        spark.createDataFrame([Row(k=1, s="a")]),
        path2,
        mode="error",
    )
    with open(os.path.join(path2, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    (proto2,) = [a["protocol"] for a in actions if "protocol" in a]
    assert "collations-preview" not in (proto2.get("readerFeatures") or [])


def test_protocol_guard_enforced_on_checkpoint_path(spark, tmp_path):
    """A protocol that demands an unsupported reader feature is refused
    when the reader finds it in a checkpoint, with the commit that
    declared it expired."""
    from levi_spark.delta.checkpoint import expire_log, write_checkpoint

    path = str(tmp_path / "t")
    _mk_table(spark, path)
    _append_protocol_commit(
        path,
        {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            # catalog-owned commit coordination is unimplemented
            "readerFeatures": ["catalogOwned-preview"],
            "writerFeatures": ["catalogOwned-preview"],
        },
    )
    write_checkpoint(spark, path)
    assert expire_log(spark, path) == [0, 1]
    with pytest.raises(UnsupportedTableFeatureError, match="catalogOwned"):
        DeltaLog(spark, path).snapshot().to_df()
