"""Round-2 engine fixes: SetTransaction-based exactly-once, raw
tombstone paths (no re-encode), stable table identity/configuration
across commits, struct-column writes, and conflict-safe DV commits."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.checkpoint import expire_log, write_checkpoint
from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta
from levi_spark.operators.incremental import (
    init_aggregate,
    read_aggregate,
    refresh_aggregate,
)
from levi_spark.streaming.delta_source import SyncState, incremental_sync


# ---------------------------------------------------------------- txn --


def test_txn_round_trip_and_checkpoint_survival(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(5).select(F.col("id"))
    write_delta(df, path, mode="error", txn=("app-a", 7))
    write_delta(df, path, mode="append", txn=("app-b", 1))
    write_delta(df, path, mode="append", txn=("app-a", 9))
    snap = DeltaLog(spark, path).snapshot()
    assert snap.txn_versions() == {"app-a": 9, "app-b": 1}

    # checkpoint carries the latest txn per app; expiring the JSON
    # commits must not lose the watermarks
    write_checkpoint(spark, path)
    expire_log(spark, path)
    snap2 = DeltaLog(spark, path).snapshot()
    assert snap2.txn_versions() == {"app-a": 9, "app-b": 1}
    assert snap2.to_df().count() == 15


def test_incremental_sync_replay_after_lost_state_file(spark, tmp_path):
    """Crash between destination commit and state write: a fresh
    SyncState (cache lost) must NOT re-append the window — the txn
    action inside the destination commit is authoritative."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_delta(spark.range(10).select("id"), src, mode="error")
    state = SyncState(str(tmp_path / "state.json"))
    r = incremental_sync(spark, src, dst, state)
    assert r["rows"] == 10
    write_delta(spark.range(10, 14).select("id"), src, mode="append")
    r = incremental_sync(spark, src, dst, state)
    assert r["rows"] == 4

    # simulate the crash: lose the state file entirely
    lost = SyncState(str(tmp_path / "state2.json"))
    r = incremental_sync(spark, src, dst, lost)
    assert r["rows"] == 0, "window already applied (txn) must be skipped"
    assert DeltaLog(spark, dst).snapshot().to_df().count() == 14


def test_refresh_aggregate_not_double_applied_on_stale_state(spark, tmp_path):
    """refresh with a stale/lost state file after a completed refresh
    must fold zero deltas (txn recorded in the rollup commit)."""
    base = str(tmp_path / "base")
    agg = str(tmp_path / "agg")
    state = SyncState(str(tmp_path / "state.json"))
    df = spark.createDataFrame(
        [(i, ["x", "y"][i % 2], float(i)) for i in range(20)],
        "id long, g string, v double",
    )
    write_delta(df, base, mode="error")
    init_aggregate(spark, base, agg, ["g"], ["v"], state)
    write_delta(
        spark.createDataFrame([(100, "x", 5.0)], "id long, g string, v double"),
        base, mode="append",
    )
    r = refresh_aggregate(spark, base, agg, ["g"], ["v"], state)
    assert r["groups_changed"] == 1
    want = {
        (row.g, row.n_rows, round(row.sum_v, 4))
        for row in read_aggregate(spark, agg, ["v"]).collect()
    }

    # stale cache replay: same window again through a fresh SyncState
    stale = SyncState(str(tmp_path / "state-stale.json"))
    r2 = refresh_aggregate(spark, base, agg, ["g"], ["v"], stale)
    assert r2["groups_changed"] == 0
    got = {
        (row.g, row.n_rows, round(row.sum_v, 4))
        for row in read_aggregate(spark, agg, ["v"]).collect()
    }
    assert got == want


# ------------------------------------------------- tombstone raw paths --


def _handwritten_partitioned_table(spark, path: str) -> None:
    """A table whose add paths contain a LITERAL '=' (the way standard
    Delta writers store hive-partition paths — no percent-encoding)."""
    os.makedirs(os.path.join(path, "_delta_log"))
    df = spark.createDataFrame([(1, "a")], "id long, letter string")
    pdir = os.path.join(path, "letter=a")
    os.makedirs(pdir)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"id": [1]}), os.path.join(pdir, "f1.parquet"))
    schema_json = spark.createDataFrame([], "id long, letter string").schema.json()
    lines = [
        json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}),
        json.dumps(
            {
                "metaData": {
                    "id": "fixed-id-123",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json,
                    "partitionColumns": ["letter"],
                    "configuration": {"k": "v"},
                    "createdTime": 0,
                }
            }
        ),
        json.dumps(
            {
                "add": {
                    "path": "letter=a/f1.parquet",
                    "partitionValues": {"letter": "a"},
                    "size": os.stat(os.path.join(pdir, "f1.parquet")).st_size,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        ),
    ]
    with open(os.path.join(path, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


def test_overwrite_tombstones_external_literal_paths(spark, tmp_path):
    """Overwriting an externally-written table (literal '=' in add
    paths) must cancel the original adds — the remove carries the RAW
    stored string, not a re-encoded one."""
    path = str(tmp_path / "ext")
    _handwritten_partitioned_table(spark, path)
    assert DeltaLog(spark, path).snapshot().to_df().count() == 1

    df = spark.createDataFrame([(2, "b"), (3, "b")], "id long, letter string")
    write_delta(df, path, mode="overwrite", partition_by=["letter"])
    snap = DeltaLog(spark, path).snapshot()
    rows = {(r.id, r.letter) for r in snap.to_df().collect()}
    assert rows == {(2, "b"), (3, "b")}, "old external file must not stay live"

    # and the remove action string equals the original add string
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json")) as fh:
        removes = [
            json.loads(ln)["remove"]["path"]
            for ln in fh
            if '"remove"' in ln
        ]
    assert removes == ["letter=a/f1.parquet"]


def test_table_identity_and_configuration_survive_commits(spark, tmp_path):
    path = str(tmp_path / "ext2")
    _handwritten_partitioned_table(spark, path)
    write_delta(
        spark.createDataFrame([(5, "c")], "id long, letter string"),
        path, mode="append", partition_by=["letter"],
    )
    meta = DeltaLog(spark, path).snapshot().metadata
    assert meta.id == "fixed-id-123"
    assert meta.configuration == {"k": "v"}


def test_replace_paths_rejects_non_live_path(spark, tmp_path):
    path = str(tmp_path / "t")
    write_delta(spark.range(4).select("id"), path, mode="error")
    with pytest.raises(ValueError, match="not live"):
        write_delta(
            spark.range(4).select("id"), path, mode="append",
            replace_paths=["no-such-file.parquet"],
        )


# ---------------------------------------------------- struct stats fix --


def test_write_delta_struct_column_round_trip(spark, tmp_path):
    path = str(tmp_path / "structs")
    df = spark.createDataFrame(
        [(1, {"a": 2, "b": "x"}), (2, {"a": 3, "b": "y"})],
        "id long, s struct<a:long,b:string>",
    )
    write_delta(df, path, mode="error")
    back = DeltaLog(spark, path).snapshot().to_df()
    assert {(r.id, r.s.a, r.s.b) for r in back.collect()} == {
        (1, 2, "x"), (2, 3, "y")
    }
    # scalar columns still carry min/max stats on every non-empty file
    flat = DeltaLog(spark, path).snapshot().add_actions_flat()
    rows = flat.select(
        F.col("num_records").alias("n"), F.col("`min.id`").alias("m")
    ).collect()
    nonempty = [r for r in rows if (r["n"] or 0) > 0]
    assert nonempty and all(r["m"] is not None for r in nonempty)


# ------------------------------------------------ DV conflict contract --


def test_soft_delete_conflict_raises_value_error_no_orphan(
    spark, tmp_path, monkeypatch
):
    """Concurrent commit landing between soft_delete's snapshot read and
    its publish: surfaces as the retryable ValueError (not a raw
    FileExistsError) and the already-written DV file is cleaned up."""
    path = str(tmp_path / "t")
    # one file, 50 deleted rows: past the inline cap, so the delete
    # writes a deletion_vector_*.bin file before it tries to publish
    write_delta(spark.range(100).select("id").coalesce(1), path,
                mode="error")
    # pin soft_delete's snapshot at v0, then let a concurrent writer win
    # version 1 — the classic read-then-lose race
    orig = DeltaLog.snapshot
    monkeypatch.setattr(DeltaLog, "snapshot", lambda self, version=None: orig(self, 0))
    with open(os.path.join(path, "_delta_log", f"{1:020d}.json"), "x") as fh:
        fh.write(json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
    import levi_spark.delta.dv as dv_mod

    written: list[dict] = []
    orig_write = dv_mod._write_standard_dvs

    def spy(*a, **kw):
        out = orig_write(*a, **kw)
        written.extend(out.values())
        return out

    monkeypatch.setattr(dv_mod, "_write_standard_dvs", spy)
    with pytest.raises(ValueError, match="concurrent commit"):
        soft_delete(spark, path, "id % 2 = 0")
    assert [d["storageType"] for d in written] == ["u"]
    # the DV file written before the failed publish is cleaned up
    assert not [n for n in os.listdir(path) if n.startswith("deletion_vector_")]


# ------------------------------------------- rebase metadata freshness --


def _pin_first_snapshot(monkeypatch):
    """First DeltaLog.snapshot() call returns version 0 (the stale
    pre-race read); later calls behave normally."""
    orig = DeltaLog.snapshot
    calls = {"n": 0}

    def patched(self, version=None):
        calls["n"] += 1
        if calls["n"] == 1:
            return orig(self, 0)
        return orig(self, version)

    monkeypatch.setattr(DeltaLog, "snapshot", patched)


def test_rebased_append_does_not_revert_concurrent_schema_union(
    spark, tmp_path, monkeypatch
):
    """A blind append that loses the version race to a mergeSchema
    commit must re-read the winner's metadata on rebase — committing
    its stale pre-read schema would silently drop the new column."""
    path = str(tmp_path / "t")
    write_delta(spark.range(3).select("id"), path, mode="error")  # v0: (id)
    write_delta(
        spark.createDataFrame([(10, "x")], "id long, extra string"),
        path, mode="append", merge_schema=True,
    )  # v1: (id, extra)
    _pin_first_snapshot(monkeypatch)
    write_delta(
        spark.createDataFrame([(20, "y")], "id long, extra string"),
        path, mode="append", merge_schema=True,
    )                                                           # raced append
    meta = DeltaLog(spark, path).snapshot().metadata
    assert [f.name for f in meta.schema.fields] == ["id", "extra"]
    rows = {(r.id, r.extra) for r in DeltaLog(spark, path).snapshot().to_df().collect()}
    assert rows == {(0, None), (1, None), (2, None), (10, "x"), (20, "y")}


def test_rebased_plain_append_fails_when_schema_moved(
    spark, tmp_path, monkeypatch
):
    """A plain (non-mergeSchema) append raced by a schema-widening
    commit must fail loudly instead of committing stale metadata."""
    path = str(tmp_path / "t")
    write_delta(spark.range(3).select("id"), path, mode="error")  # v0: (id)
    write_delta(
        spark.createDataFrame([(10, "x")], "id long, extra string"),
        path, mode="append", merge_schema=True,
    )  # v1: (id, extra)
    _pin_first_snapshot(monkeypatch)
    with pytest.raises(ValueError, match="invalidated by concurrent commit"):
        write_delta(spark.range(20, 22).select("id"), path, mode="append")


def test_append_inherits_table_partitioning(spark, tmp_path):
    """An append that omits partition_by must inherit the table's
    partitionColumns (previously it committed partitionColumns=[] and
    silently de-partitioned the table), and an append declaring a
    different layout must error."""
    import pytest
    from pyspark.sql import functions as F

    from levi_spark.delta.log import DeltaLog
    from levi_spark.delta.writer import write_delta

    p = str(tmp_path / "t")
    df = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("part")
    )
    write_delta(df, p, mode="error", partition_by=["part"])
    write_delta(
        spark.range(8, 10).select(
            F.col("id").alias("k"), F.lit("1").alias("part")
        ),
        p, mode="append",  # no partition_by
    )
    snap = DeltaLog(spark, p).snapshot()
    assert snap.metadata.partition_columns == ["part"]
    assert all(pv.get("part") is not None for _f, pv in snap.file_infos())
    with pytest.raises(ValueError, match="partitionColumns"):
        write_delta(
            spark.range(10, 11).select(
                F.col("id").alias("k"), F.lit("1").alias("part")
            ),
            p, mode="append", partition_by=["k"],
        )
