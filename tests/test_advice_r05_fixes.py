"""Regression tests for the round-5 ADVICE findings:

1. queries.py num_files_match_log was tautological (same snapshot on
   both sides) — now an on-disk data-file census with real detection
   power.
2. MARKET_BASKET_SQL hardcoded ``rn <= 32`` — now interpolates
   MARKET_BASKET_CAP so the oracle can't desynchronize from the Spark
   path.
3. clone.py deep clone validated DVs inside the copy loop — a failure
   left orphan data bytes in dst_path; validation now runs as a full
   pass before any copy.
4. clone.py refused the Delta spec's absolute-path DV marker 'p' even
   for shallow clones, where it is portable verbatim.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.clone import clone_table
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta
from levi_spark.queries import (
    MARKET_BASKET_CAP,
    MARKET_BASKET_SQL,
    _data_parquet_census,
)


def _mk_dv_src(spark, path):
    """Two appends + a soft delete. Files are coalesced to hold many
    rows each, so the delete hits a strict subset of every file's rows
    and MUST land as deletion vectors (single-row files would be dropped
    whole via remove actions and the log would carry no DVs at all)."""
    write_delta(
        spark.range(20).select("id", (F.col("id") * 2).alias("v")).coalesce(2),
        path, mode="error", checkpoint_interval=None,
    )
    write_delta(
        spark.range(20, 25)
        .select("id", (F.col("id") * 2).alias("v"))
        .coalesce(1),
        path, mode="append", checkpoint_interval=None,
    )
    soft_delete(spark, path, "id % 5 = 0", checkpoint_interval=None)
    dv_adds = [
        r
        for r in DeltaLog(spark, path).snapshot().live_adds_collected()
        if r["add"]["deletionVector"] is not None
    ]
    assert dv_adds, "fixture must actually carry DV descriptors"


def _doctor_dv(src: str, storage_type: str, absolutize: bool) -> None:
    """Rewrite every DV descriptor in the log's JSON commits to the
    given storageType (optionally absolutizing pathOrInlineDv), to
    simulate a foreign-written log."""
    for commit in sorted(glob.glob(os.path.join(src, "_delta_log", "*.json"))):
        lines = []
        with open(commit) as f:
            for line in f:
                action = json.loads(line)
                dv = (action.get("add") or {}).get("deletionVector")
                if dv and dv.get("pathOrInlineDv"):
                    dv["storageType"] = storage_type
                    if absolutize and not os.path.isabs(dv["pathOrInlineDv"]):
                        dv["pathOrInlineDv"] = os.path.join(
                            src, dv["pathOrInlineDv"]
                        )
                lines.append(json.dumps(action))
        with open(commit, "w") as f:
            f.write("\n".join(lines) + "\n")


def test_failed_deep_clone_leaves_destination_untouched(spark, tmp_path):
    """Advice #3: an unclonable DV must be detected BEFORE any data
    file is copied — a failed deep clone leaves dst with zero files,
    so a later clone to the same destination starts clean."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_dv_src(spark, src)
    _doctor_dv(src, "x", absolutize=False)  # unknown type: never clonable
    with pytest.raises(ValueError, match="storageType"):
        clone_table(spark, src, dst, shallow=False)
    leftovers = [
        p
        for p in glob.glob(os.path.join(dst, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    assert leftovers == []


def test_deep_clone_prevalidates_missing_source_file(spark, tmp_path):
    """A source data file missing on disk is also caught up front."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    _mk_dv_src(spark, src)
    # remove one live data file from disk (log still references it)
    victims = sorted(glob.glob(os.path.join(src, "*.parquet")))
    os.remove(victims[-1])
    with pytest.raises(ValueError, match="missing on disk"):
        clone_table(spark, src, dst, shallow=False)
    leftovers = [
        p
        for p in glob.glob(os.path.join(dst, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    assert leftovers == []


def test_shallow_clone_accepts_spec_p_dv(spark, tmp_path):
    """Advice #4: the spec's absolute-path DV marker 'p' is portable
    verbatim in a shallow clone; deep clone still refuses it. Uses a
    REAL standard roaring DV file (since round 5 'p' descriptors are
    decoded per the Delta spec, not as parquet sidecars)."""
    from levi_spark.delta.roaring import encode_rbm_array, write_dv_file

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    os.makedirs(os.path.join(src, "_delta_log"))
    spark.range(10).select("id").coalesce(1).write.mode("append").parquet(src)
    (data,) = [n for n in os.listdir(src) if n.endswith(".parquet")]
    deleted = [2, 5]
    blob = encode_rbm_array(deleted)
    file_bytes, offs = write_dv_file([blob])
    dv_abs = str(tmp_path / "external_dv.bin")
    with open(dv_abs, "wb") as f:
        f.write(file_bytes)
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {
            "id": "t-p", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {}}]}),
            "partitionColumns": [], "configuration": {}, "createdTime": 0}},
        {"add": {
            "path": data, "partitionValues": {},
            "size": os.path.getsize(os.path.join(src, data)),
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({"numRecords": 10}),
            "deletionVector": {
                "storageType": "p", "pathOrInlineDv": dv_abs,
                "offset": offs[0], "sizeInBytes": len(blob),
                "cardinality": len(deleted)}}},
    ]
    with open(os.path.join(src, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")

    info = clone_table(spark, src, dst, shallow=True)
    assert info["shallow"] and info["files"] > 0
    got = sorted(r.id for r in DeltaLog(spark, dst).snapshot().to_df().collect())
    assert got == [i for i in range(10) if i not in deleted]
    with pytest.raises(ValueError, match=r"absolute-path \('p'\)"):
        clone_table(spark, src, str(tmp_path / "deep"), shallow=False)


def test_market_basket_oracle_shares_cap_constant():
    """Advice #2: one definition of the cap on both engines."""
    assert f"rn <= {MARKET_BASKET_CAP}" in MARKET_BASKET_SQL


def test_data_parquet_census_detects_orphans(spark, tmp_path):
    """Advice #1: the numFiles check's expected count now comes from
    disk, so a leaked orphan data file (or a numFiles bug) is a
    detectable mismatch instead of a tautological pass."""
    base = str(tmp_path / "t")
    write_delta(
        spark.range(10).select("id"), base, mode="error",
        checkpoint_interval=None,
    )
    from levi_spark.delta.history import describe_detail

    d = describe_detail(spark, base).collect()[0]
    assert _data_parquet_census(base) == int(d.numFiles) > 0
    # sidecar trees are excluded
    os.makedirs(os.path.join(base, "_change_data"), exist_ok=True)
    with open(os.path.join(base, "_change_data", "x.parquet"), "w") as f:
        f.write("not data")
    assert _data_parquet_census(base) == int(d.numFiles)
    # a planted orphan data file IS counted -> check would fail loudly
    with open(os.path.join(base, "orphan.parquet"), "w") as f:
        f.write("orphan")
    assert _data_parquet_census(base) == int(d.numFiles) + 1


def test_stage_timer_records_and_echoes(monkeypatch, capsys):
    import importlib

    from levi_spark.functions import timing

    monkeypatch.setenv("LEVI_STAGE_TIMING", "1")
    with timing.stage_timer("scope_x", "stage_y"):
        pass
    assert "stage_y" in timing.STAGE_TIMINGS["scope_x"]
    assert timing.STAGE_TIMINGS["scope_x"]["stage_y"] >= 0.0
    assert "[stage] scope_x.stage_y:" in capsys.readouterr().err
    # exceptions propagate and the stage still records
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        with timing.stage_timer("scope_x", "boom"):
            raise RuntimeError("x")
    assert "boom" in timing.STAGE_TIMINGS["scope_x"]
