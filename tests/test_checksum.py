"""Version-checksum (.crc) files (levi_spark.delta.checksum): write /
validate round trips across commits and DV deletes, idempotency, the
refuse-don't-overwrite contract on disagreement, corruption detection
field by field, and forward-compat tolerance of unknown stored keys."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.checksum import (
    compute_checksum,
    validate_checksum,
    write_checksum,
)
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("crc") / "t")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 2.5).alias("x")
    )
    write_delta(df.where("id < 60").repartition(3), p, mode="error")
    write_delta(df.where("id >= 60").repartition(2), p, mode="append")
    soft_delete(spark, p, "k = 3")
    return p


def _crc(p, v):
    with open(os.path.join(p, "_delta_log", f"{v:020d}.crc")) as f:
        return json.loads(f.read())


def test_write_then_validate_every_version(spark, table):
    for v in (0, 1, 2):
        path = write_checksum(spark, table, v)
        assert os.path.basename(path) == f"{v:020d}.crc"
        stored = validate_checksum(spark, table, v)
        assert stored["numFiles"] > 0
        assert stored["numMetadata"] == 1 and stored["numProtocol"] == 1


def test_counts_track_the_log(spark, table):
    write_checksum(spark, table, 0)
    write_checksum(spark, table, 1)
    write_checksum(spark, table, 2)
    c0, c1, c2 = _crc(table, 0), _crc(table, 1), _crc(table, 2)
    assert c0["numFiles"] == 3 and c1["numFiles"] == 5
    assert c1["tableSizeBytes"] > c0["tableSizeBytes"]
    # DV delete adds no files but marks deleted rows
    assert "numDeletedRecordsOpt" not in c0
    assert c2["numDeletedRecordsOpt"] == 14  # k=3: ids 3,10,...,94
    assert c2["numDeletionVectorsOpt"] >= 1
    # physical truth: tableSizeBytes is the stat-sum of live files
    live = DeltaLog(spark, table).snapshot(1).live_adds_collected()
    assert c1["tableSizeBytes"] == sum(
        os.stat(os.path.join(table, r["add"]["path"])).st_size for r in live
    )


def test_metadata_and_protocol_round_trip(spark, table):
    write_checksum(spark, table, 2)
    c2 = _crc(table, 2)
    snap = DeltaLog(spark, table).snapshot(2)
    assert c2["protocol"] == snap.protocol
    assert c2["metadata"]["schemaString"]
    assert c2["metadata"]["partitionColumns"] == []
    assert c2["metadata"]["format"]["provider"] == "parquet"


def test_idempotent_and_refuses_stale(spark, table, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark.range(10).repartition(1), p, mode="error")
    first = write_checksum(spark, p)
    assert write_checksum(spark, p) == first  # agreeing file: no-op
    body = _crc(p, 0)
    body["numFiles"] += 1
    with open(first, "w") as f:
        f.write(json.dumps(body))
    with pytest.raises(ValueError, match="numFiles"):
        write_checksum(spark, p)  # disagreeing file: refuse, not overwrite


def test_corruption_names_the_field(spark, table, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark.range(20).repartition(2), p, mode="error")
    crc_path = write_checksum(spark, p)
    body = _crc(p, 0)
    body["tableSizeBytes"] -= 1
    body["metadata"]["schemaString"] = "{}"
    with open(crc_path, "w") as f:
        f.write(json.dumps(body))
    with pytest.raises(ValueError) as e:
        validate_checksum(spark, p, 0)
    assert "tableSizeBytes" in str(e.value)
    assert "metadata.schemaString" in str(e.value)


def test_unknown_stored_fields_are_tolerated(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark.range(5).repartition(1), p, mode="error")
    crc_path = write_checksum(spark, p)
    body = _crc(p, 0)
    body["txnId"] = "0000-fake"
    body["histogramOpt"] = {"sortedBinBoundaries": [0], "fileCounts": [1]}
    with open(crc_path, "w") as f:
        f.write(json.dumps(body))
    assert validate_checksum(spark, p, 0)["txnId"] == "0000-fake"


def test_missing_checksum_raises(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(spark.range(5).repartition(1), p, mode="error")
    with pytest.raises(FileNotFoundError):
        validate_checksum(spark, p, 0)


def test_compute_matches_stored_json_exactly(spark, table):
    crc_path = write_checksum(spark, table, 2)
    snap = DeltaLog(spark, table).snapshot(2)
    with open(crc_path) as f:
        assert json.loads(f.read()) == compute_checksum(snap)
