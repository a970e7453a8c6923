"""In-commit timestamps (Delta's inCommitTimestamp writer feature):
when delta.enableInCommitTimestamps is true, every commitInfo carries a
writer-guaranteed monotonic timestamp, and timestamp time travel uses
it instead of trusting log-file mtimes (which copies/restores
scramble)."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.constraints import set_table_properties
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _commit_infos(path):
    out = {}
    for c in sorted(glob.glob(os.path.join(path, "_delta_log", "*.json"))):
        v = int(os.path.basename(c).split(".")[0])
        for line in open(c):
            a = json.loads(line)
            if "commitInfo" in a:
                out[v] = a["commitInfo"]
    return out


def test_ict_stamped_and_monotonic_under_frozen_clock(spark, tmp_path,
                                                      monkeypatch):
    """With the wall clock frozen, successive commits still get
    strictly increasing inCommitTimestamps (prev+1 bump)."""
    path = str(tmp_path / "t")
    write_delta(spark.range(5).select("id"), path, mode="error")
    set_table_properties(
        spark, path, {"delta.enableInCommitTimestamps": "true"}
    )
    frozen = time.time()
    monkeypatch.setattr(time, "time", lambda: frozen)
    for i in range(3):
        write_delta(
            spark.range(10 + i, 11 + i).select("id"), path, mode="append",
        )
    cis = _commit_infos(path)
    assert "inCommitTimestamp" not in cis[0]  # pre-enablement
    icts = [cis[v]["inCommitTimestamp"] for v in (1, 2, 3, 4)]
    assert all(b > a for a, b in zip(icts, icts[1:])), icts
    # the enabling commit itself is the first stamped one
    assert cis[1]["operation"] == "SET TBLPROPERTIES"


def test_time_travel_uses_ict_not_mtime(spark, tmp_path, monkeypatch):
    """Scrambled log-file mtimes must not affect timestampAsOf once
    ICT is on: the mapping follows the stamped values."""
    path = str(tmp_path / "t")
    write_delta(spark.range(3).select("id"), path, mode="error")
    set_table_properties(
        spark, path, {"delta.enableInCommitTimestamps": "true"}
    )
    write_delta(spark.range(3, 6).select("id"), path, mode="append")
    # scramble every commit file's mtime into the far past/future
    for i, c in enumerate(
        sorted(glob.glob(os.path.join(path, "_delta_log", "*.json")))
    ):
        os.utime(c, (1_000_000_000 - i, 1_000_000_000 - i))
    log = DeltaLog(spark, path)
    cis = _commit_infos(path)
    v2_ict = cis[2]["inCommitTimestamp"]
    assert log.version_at_timestamp(v2_ict) == 2
    assert log.version_at_timestamp(v2_ict - 1) in (0, 1)
    # rows at the pre-append stamp exclude the appended batch
    v1_ict = cis[1]["inCommitTimestamp"]
    got = {r.id for r in log.snapshot(
        log.version_at_timestamp(v1_ict)).to_df().collect()}
    assert got == {0, 1, 2}


def test_ict_rides_dv_and_clone_commits(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(
        spark.range(20).select("id").coalesce(2), path, mode="error",
    )
    set_table_properties(
        spark, path, {"delta.enableInCommitTimestamps": "true"}
    )
    soft_delete(spark, path, "id % 5 = 0")
    cis = _commit_infos(path)
    assert "inCommitTimestamp" in cis[max(cis)]  # the DELETE commit
    from levi_spark.delta.clone import clone_table

    dst = str(tmp_path / "c")
    clone_table(spark, path, dst, shallow=True)
    ccis = _commit_infos(dst)
    assert "inCommitTimestamp" in ccis[0]  # conf inherited -> stamped


def test_property_unset(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark.range(3).select("id"), path, mode="error")
    set_table_properties(spark, path, {"custom.flag": "1"})
    assert DeltaLog(spark, path).snapshot().metadata.configuration[
        "custom.flag"] == "1"
    set_table_properties(spark, path, {"custom.flag": None})
    assert "custom.flag" not in DeltaLog(
        spark, path).snapshot().metadata.configuration
