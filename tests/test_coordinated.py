"""Coordinated commits (r08 — the last reader-matrix refusal):
writer staging into ``_delta_log/_commits``, the reader's
filesystem-coordinator contract (merge backfilled + staged, refuse
ambiguity and gaps), backfill, and time travel across a staged tail.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import backfill_commits, write_delta


def _mk(spark, path, n_appends=2):
    write_delta(
        spark.createDataFrame([Row(k=1, part="v0")]),
        path, mode="error", coordinated=True,
    )
    for i in range(n_appends):
        write_delta(
            spark.createDataFrame([Row(k=10 + i, part=f"v{i + 1}")]),
            path, mode="append",
        )


def test_staged_layout_and_merged_read(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    log_dir = os.path.join(p, "_delta_log")
    # v0 backfilled; v1, v2 staged only
    assert os.path.exists(os.path.join(log_dir, f"{0:020d}.json"))
    assert not os.path.exists(os.path.join(log_dir, f"{1:020d}.json"))
    staged = sorted(os.listdir(os.path.join(log_dir, "_commits")))
    assert [s[:20] for s in staged] == [f"{1:020d}", f"{2:020d}"]
    log = DeltaLog(spark, p)
    assert log.latest_version() == 2
    rows = sorted(r["k"] for r in log.snapshot().to_df().collect())
    assert rows == [1, 10, 11]
    # version-addressed snapshots see staged prefixes
    assert sorted(
        r["k"] for r in log.snapshot(1).to_df().collect()
    ) == [1, 10]
    # protocol carries the writer feature, reader version untouched
    proto = log.snapshot().protocol
    assert "coordinatedCommits-preview" in proto["writerFeatures"]
    assert proto["minReaderVersion"] == 1


def test_property_not_flag_drives_staging(spark, tmp_path):
    """A second writer that never passes coordinated=True still stages
    — the table configuration owns the commit path."""
    p = str(tmp_path / "t2")
    _mk(spark, p, n_appends=1)
    write_delta(
        spark.createDataFrame([Row(k=99, part="late")]),
        p, mode="append",
    )
    log_dir = os.path.join(p, "_delta_log")
    assert len(os.listdir(os.path.join(log_dir, "_commits"))) == 2
    assert DeltaLog(spark, p).latest_version() == 2


def test_backfill_is_idempotent_and_prefix_ordered(spark, tmp_path):
    p = str(tmp_path / "t3")
    _mk(spark, p)
    assert backfill_commits(p, up_to=1) == 1
    log_dir = os.path.join(p, "_delta_log")
    assert os.path.exists(os.path.join(log_dir, f"{1:020d}.json"))
    assert not os.path.exists(os.path.join(log_dir, f"{2:020d}.json"))
    # staged copy stays; reader prefers the backfilled file and must
    # not double-count
    assert len(os.listdir(os.path.join(log_dir, "_commits"))) == 2
    assert sorted(
        r["k"] for r in DeltaLog(spark, p).snapshot().to_df().collect()
    ) == [1, 10, 11]
    assert backfill_commits(p) == 1  # the rest; re-run is a no-op
    assert backfill_commits(p) == 0


def test_ambiguous_staged_version_refuses(spark, tmp_path):
    p = str(tmp_path / "t4")
    _mk(spark, p, n_appends=1)
    log_dir = os.path.join(p, "_delta_log")
    sdir = os.path.join(log_dir, "_commits")
    (name,) = os.listdir(sdir)
    with open(os.path.join(sdir, name)) as f:
        payload = f.read()
    with open(
        os.path.join(sdir, f"{1:020d}.deadbeefcafe4242deadbeefcafe4242.json"),
        "w",
    ) as f:
        f.write(payload)
    with pytest.raises(ValueError, match="commit coordinator"):
        DeltaLog(spark, p).snapshot()


def test_gapped_staged_tail_refuses(spark, tmp_path):
    p = str(tmp_path / "t5")
    _mk(spark, p, n_appends=1)
    log_dir = os.path.join(p, "_delta_log")
    sdir = os.path.join(log_dir, "_commits")
    (name,) = os.listdir(sdir)
    os.rename(
        os.path.join(sdir, name),
        os.path.join(sdir, f"{5:020d}." + name.split(".")[1] + ".json"),
    )
    with pytest.raises(ValueError, match="not\\s+contiguous"):
        DeltaLog(spark, p).snapshot()


def test_staged_conflict_refuses_same_version(spark, tmp_path):
    """The filesystem coordinator is single-writer: a staged file for
    the target version makes a second staging attempt at that version
    refuse (write_delta's blind-append rebase then retries at the next
    version, which is the correct optimistic outcome)."""
    from levi_spark.delta.writer import _publish_staged_commit

    p = str(tmp_path / "t6")
    _mk(spark, p, n_appends=1)
    log_dir = os.path.join(p, "_delta_log")
    with pytest.raises(ValueError, match="single-writer"):
        _publish_staged_commit(log_dir, 1, '{"commitInfo": {}}\n')
    # a blind append through write_delta rebases to version 2
    write_delta(
        spark.createDataFrame([Row(k=50, part="x")]),
        p, mode="append",
    )
    assert DeltaLog(spark, p).latest_version() == 2


def test_time_travel_and_history_over_staged_tail(spark, tmp_path):
    p = str(tmp_path / "t7")
    _mk(spark, p)
    log = DeltaLog(spark, p)
    ts = log.commit_timestamps()
    assert [v for v, _ in ts] == [0, 1, 2]
    assert all(b[1] > a[1] for a, b in zip(ts, ts[1:])) or len(ts) == 3
    v_at = log.version_at_timestamp(ts[-1][1])
    assert v_at == 2
    # staged commits never auto-checkpoint
    log_dir = os.path.join(p, "_delta_log")
    assert not any("checkpoint" in n for n in os.listdir(log_dir))


def test_coordinated_on_append_to_plain_table_refuses(spark, tmp_path):
    p = str(tmp_path / "t8")
    write_delta(
        spark.createDataFrame([Row(k=1, part="a")]),
        p, mode="error",
    )
    with pytest.raises(ValueError, match="uncoordinated"):
        write_delta(
            spark.createDataFrame([Row(k=2, part="b")]),
            p, mode="append", coordinated=True,
        )


def test_create_commit_records_coordinator_property(spark, tmp_path):
    p = str(tmp_path / "t9")
    _mk(spark, p, n_appends=0)
    with open(
        os.path.join(p, "_delta_log", f"{0:020d}.json")
    ) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    (meta,) = [a["metaData"] for a in actions if "metaData" in a]
    assert (
        meta["configuration"][
            "delta.coordinatedCommits.commitCoordinator-preview"
        ]
        == "filesystem"
    )


def test_ict_stays_monotonic_across_staged_tail(spark, tmp_path):
    """In-commit timestamps on a COORDINATED table: the predecessor
    read must find the latest STAGED commit, not just the backfilled
    tail — otherwise the monotonic clock re-anchors below
    already-staged stamps."""
    import json

    p = str(tmp_path / "ict")
    write_delta(
        spark.createDataFrame([Row(k=1, part="a")]),
        p, mode="error", coordinated=True,
    )
    # enable ICT by rewriting v0's metaData configuration (the engine
    # reads config from the snapshot, so later appends honor it)
    log_dir = os.path.join(p, "_delta_log")
    v0 = os.path.join(log_dir, f"{0:020d}.json")
    lines = [json.loads(x) for x in open(v0) if x.strip()]
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"][
                "delta.enableInCommitTimestamps"
            ] = "true"
    with open(v0, "w") as f:
        f.writelines(json.dumps(a) + "\n" for a in lines)
    for i in range(3):
        write_delta(
            spark.createDataFrame([Row(k=10 + i, part="b")]),
            p, mode="append",
        )
    ts = DeltaLog(spark, p).commit_timestamps()
    assert [v for v, _ in ts] == [0, 1, 2, 3]
    raw = []
    for v in (1, 2, 3):
        (path,) = [
            os.path.join(log_dir, "_commits", n)
            for n in os.listdir(os.path.join(log_dir, "_commits"))
            if n.startswith(f"{v:020d}.")
        ]
        for line in open(path):
            ci = json.loads(line).get("commitInfo")
            if ci and "inCommitTimestamp" in ci:
                raw.append(ci["inCommitTimestamp"])
    # strictly increasing ACROSS the staged tail (the writer-side
    # guarantee, not just the reader's monotonization)
    assert len(raw) == 3 and raw[0] < raw[1] < raw[2], raw


def test_checkpoint_backfills_staged_versions_first(spark, tmp_path):
    """A checkpoint covers only backfilled commits: ``write_checkpoint``
    on a staged tail backfills it first, so time travel below the
    checkpoint still sees every staged version, and ``expire_log``
    then deletes only backfilled files."""
    from levi_spark.delta.checkpoint import expire_log, write_checkpoint

    p = str(tmp_path / "t")
    write_delta(
        spark.range(3).select("id"), p, mode="error",
        coordinated=True,
    )
    for lo in (3, 5):
        write_delta(
            spark.range(lo, lo + 2).select("id"), p, mode="append",
        )
    log_dir = os.path.join(p, "_delta_log")
    assert not os.path.exists(os.path.join(log_dir, f"{1:020d}.json"))
    assert write_checkpoint(spark, p) == 2
    log = DeltaLog(spark, p)
    assert log._entries() == ([0, 1, 2], [2])
    assert [log.snapshot(v).to_df().count() for v in (0, 1, 2)] == [3, 5, 7]
    assert expire_log(spark, p) == [0, 1, 2]
    assert len(os.listdir(os.path.join(log_dir, "_commits"))) == 2
    assert DeltaLog(spark, p).snapshot().to_df().count() == 7
