"""Round-5 self-review fixes: protocol actions are table state, not a
writer constant — feature upgrades (standard DVs, v2 checkpoints,
column mapping) must survive every later commit path, and the roaring
cookie is unsigned."""

from __future__ import annotations

import glob
import json
import os

from levi_spark.delta.clone import clone_table
from levi_spark.delta.constraints import set_table_properties
from levi_spark.delta.dv import purge_deleted, soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _proto(spark, path):
    return DeltaLog(spark, path).snapshot().protocol


def _mk_standard(spark, path):
    write_delta(
        spark.range(300).selectExpr("id", "id * 2 AS v").coalesce(2),
        path, mode="error",
    )
    soft_delete(spark, path, "id % 2 = 0")


def test_append_preserves_upgraded_protocol(spark, tmp_path):
    """The headline finding: a plain append after a standard-DV delete
    must NOT downgrade the protocol back to {1,2} while 'u' descriptors
    are still live."""
    path = str(tmp_path / "t")
    _mk_standard(spark, path)
    p = _proto(spark, path)
    assert p["minReaderVersion"] == 3
    assert "deletionVectors" in p["readerFeatures"]
    write_delta(
        spark.range(1000, 1003).selectExpr("id", "id * 2 AS v").coalesce(1),
        path, mode="append",
    )
    p2 = _proto(spark, path)
    assert p2["minReaderVersion"] == 3
    assert "deletionVectors" in p2["readerFeatures"]
    # legacy writer features enumerated on the upgrade, per spec
    assert {"appendOnly", "invariants"} <= set(p2["writerFeatures"])


def test_config_commit_preserves_protocol(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk_standard(spark, path)
    set_table_properties(spark, path, {"custom.flag": "1"})
    p = _proto(spark, path)
    assert p["minReaderVersion"] == 3
    assert "deletionVectors" in p["readerFeatures"]


def test_sidecar_dv_commit_preserves_protocol_after_purge(spark, tmp_path):
    """After purge (no live DV descriptors) the table keeps its
    upgraded protocol, and a subsequent delete does not downgrade it."""
    path = str(tmp_path / "t")
    _mk_standard(spark, path)
    purge_deleted(spark, path)
    soft_delete(spark, path, "id = 7")
    p = _proto(spark, path)
    assert p["minReaderVersion"] == 3


def test_clone_inherits_source_protocol(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_standard(spark, src)
    clone_table(spark, src, dst, shallow=True)
    p = _proto(spark, dst)
    assert p["minReaderVersion"] == 3
    assert "deletionVectors" in p["readerFeatures"]


def test_v2_checkpoint_upgrades_protocol_first(spark, tmp_path):
    """Writing a v2 checkpoint on a legacy table first commits a
    protocol upgrade declaring v2Checkpoint — otherwise foreign readers
    would never look for the manifest and, after log expiry, could not
    reconstruct the table at all."""
    from levi_spark.delta.checkpoint import expire_log, write_checkpoint

    path = str(tmp_path / "t")
    write_delta(
        spark.range(9).selectExpr("id").coalesce(1), path, mode="error",
    )
    assert _proto(spark, path)["minReaderVersion"] == 1
    v = write_checkpoint(spark, path, format="v2")
    assert v == 1  # the upgrade commit landed first
    p = _proto(spark, path)
    assert p["minReaderVersion"] == 3
    assert "v2Checkpoint" in p["readerFeatures"]
    expire_log(spark, path)
    snap = DeltaLog(spark, path).snapshot()
    assert sorted(r.id for r in snap.to_df().collect()) == list(range(9))
    assert snap.protocol["minReaderVersion"] == 3  # survives via manifest


def test_v2_checkpoint_no_double_upgrade(spark, tmp_path):
    from levi_spark.delta.checkpoint import write_checkpoint

    path = str(tmp_path / "t")
    write_delta(
        spark.range(5).selectExpr("id").coalesce(1), path, mode="error",
    )
    v1 = write_checkpoint(spark, path, format="v2")
    write_delta(
        spark.range(5, 8).selectExpr("id").coalesce(1), path, mode="append",
    )
    v2 = write_checkpoint(spark, path, format="v2")
    assert v2 == v1 + 1  # append only; no second upgrade commit


def test_roaring_cookie_is_unsigned():
    """>=32769 run containers in one 32-bit bitmap (possible for a
    multi-billion-row file) round-trips — the cookie's high 16 bits
    must be treated unsigned."""
    from levi_spark.delta.roaring import decode_rbm_array, encode_rbm_array

    vals = [i << 16 for i in range(33000)]  # one run container per bucket
    blob = encode_rbm_array(vals, force_run=True)
    assert decode_rbm_array(blob).tolist() == vals
