"""Commit-coordinator fallback for non-atomic stores (VERDICT r11 ask
#4): when the table's filesystem reports ``atomic_put_if_absent=False``
(S3-class object stores — Hadoop ``create(overwrite=false)`` there is
check-then-write), ``_publish_commit`` routes every commit through the
filesystem commit coordinator (staged ``_delta_log/_commits`` entry +
immediate byte-identical backfill + arbitration verify) instead of
relying on a put-if-absent the store cannot honor.

The tests force a ``file://`` table down the non-atomic branch via the
``LEVI_FORCE_NON_ATOMIC_SCHEMES`` seam (the real trigger is the scheme
set in ``levi_spark.fs._NON_ATOMIC_SCHEMES``), so the coordinator
path is exercised against a filesystem where we can also verify the
resulting log layout byte by byte."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import _publish_commit, write_delta
from levi_spark.fs import fs_for


@pytest.fixture()
def nonatomic_file(monkeypatch):
    monkeypatch.setenv("LEVI_FORCE_NON_ATOMIC_SCHEMES", "file")


def _df(spark, lo, hi):
    return spark.range(lo, hi, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g")
    )


def test_flag_reports_non_atomic(spark, tmp_path, nonatomic_file):
    assert fs_for(str(tmp_path)).atomic_put_if_absent  # plain path: POSIX
    assert not fs_for(f"file://{tmp_path}").atomic_put_if_absent
    monkey_off = os.environ.pop("LEVI_FORCE_NON_ATOMIC_SCHEMES")
    try:
        assert fs_for(f"file://{tmp_path}").atomic_put_if_absent
    finally:
        os.environ["LEVI_FORCE_NON_ATOMIC_SCHEMES"] = monkey_off
    assert "s3a" in __import__(
        "levi_spark.fs", fromlist=["_NON_ATOMIC_SCHEMES"]
    )._NON_ATOMIC_SCHEMES


def test_commits_route_through_coordinator(spark, tmp_path, nonatomic_file):
    """Every commit on the forced-non-atomic table lands as a staged
    ``_commits`` entry plus a byte-identical backfilled copy, and the
    table reads back exactly as if committed directly."""
    p = f"file://{tmp_path}/t"
    assert write_delta(_df(spark, 0, 200), p) == 0
    assert write_delta(_df(spark, 200, 300), p, mode="append") == 1
    log_dir = f"{tmp_path}/t/_delta_log"
    staged = sorted(os.listdir(os.path.join(log_dir, "_commits")))
    assert len(staged) == 2  # one per commit, versions 0 and 1
    for name in staged:
        v = int(name.split(".", 1)[0])
        with open(os.path.join(log_dir, "_commits", name)) as fh:
            staged_bytes = fh.read()
        with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
            assert fh.read() == staged_bytes  # backfill is byte-identical
    snap = DeltaLog(spark, p).snapshot()
    assert snap.version == 1
    assert snap.to_df().count() == 300
    assert snap.to_df().agg(F.sum("k")).first()[0] == sum(range(300))


def test_one_winner_one_clean_retry(spark, tmp_path, nonatomic_file):
    """The ask's acceptance case: two writers aim at the same version;
    the coordinator arbitration gives exactly one winner, and the
    blind-append loser retries cleanly at the next version — no commit
    silently lost, no duplicated version."""
    p = f"file://{tmp_path}/t"
    write_delta(_df(spark, 0, 100), p)
    # writer A wins version 1 (stage + backfill through the fallback)
    log_dir = f"{tmp_path}/t/_delta_log"
    payload_a = json.dumps({"commitInfo": {"operation": "WRITE",
                                           "timestamp": 1}}) + "\n"
    assert _publish_commit(f"file://{log_dir}", 1, payload_a) == 1
    # writer B (a blind append that snapshotted before A landed)
    # must rebase to version 2, not clobber or double-publish 1
    v = write_delta(_df(spark, 100, 150), p, mode="append")
    assert v == 2
    versions = sorted(
        int(n.split(".")[0]) for n in os.listdir(log_dir)
        if n.endswith(".json") and n[0].isdigit()
    )
    assert versions == [0, 1, 2]
    # non-rebaseable writer at an occupied version: loud conflict
    with pytest.raises(ValueError, match="concurrent commit"):
        _publish_commit(f"file://{log_dir}", 2, payload_a)


def test_prestaged_twin_caught_by_existence_check(
    spark, tmp_path, nonatomic_file
):
    """A twin already staged at the target version is caught by the
    coordinator's existence check — loud conflict, not a lost write."""
    p = f"file://{tmp_path}/t"
    write_delta(_df(spark, 0, 50), p)
    log_dir = f"{tmp_path}/t/_delta_log"
    cdir = os.path.join(log_dir, "_commits")
    twin = json.dumps({"commitInfo": {"operation": "WRITE",
                                      "timestamp": 7}}) + "\n"
    with open(os.path.join(cdir, f"{1:020d}." + "0" * 32 + ".json"),
              "x") as fh:
        fh.write(twin)
    with pytest.raises(ValueError, match="concurrent commit"):
        _publish_commit(f"file://{log_dir}", 1, "{}\n")


def test_toctou_twin_surfaces_as_conflict(
    spark, tmp_path, nonatomic_file, monkeypatch
):
    """A twin that slips through the existence check — staged between
    our check and our backfill, with a lexicographically-first uuid so
    backfill ratifies IT — must surface as a conflict for us (the
    arbitration verify), never a silent success for a commit the log
    does not contain."""
    import levi_spark.delta.writer as W

    p = f"file://{tmp_path}/t"
    write_delta(_df(spark, 0, 50), p)
    log_dir = f"{tmp_path}/t/_delta_log"
    cdir = os.path.join(log_dir, "_commits")
    twin = json.dumps({"commitInfo": {"operation": "WRITE",
                                      "timestamp": 7}}) + "\n"
    real_stage = W._publish_staged_commit

    def race_stage(ld, version, payload):
        v = real_stage(ld, version, payload)
        # the twin lands right after our stage, before our backfill;
        # uuid 000... sorts first so backfill ratifies the twin
        with open(os.path.join(cdir, f"{version:020d}." + "0" * 32
                               + ".json"), "x") as fh:
            fh.write(twin)
        return v

    monkeypatch.setattr(W, "_publish_staged_commit", race_stage)
    with pytest.raises(ValueError, match="concurrent commit"):
        _publish_commit(f"file://{log_dir}", 1, "{}\n")
    # and the ratified twin is what the log holds
    with open(os.path.join(log_dir, f"{1:020d}.json")) as fh:
        assert fh.read() == twin


def test_multiwriter_stress_coordinated(spark, tmp_path, nonatomic_file):
    """8 threads of blind appends through the coordinator fallback:
    every commit lands at a distinct contiguous version, no rows lost —
    the same invariant the direct-path stress test asserts."""
    from concurrent.futures import ThreadPoolExecutor

    p = f"file://{tmp_path}/t"
    write_delta(_df(spark, 0, 10), p)

    def append(i):
        return write_delta(
            _df(spark, 10 + 10 * i, 20 + 10 * i), p, mode="append"
        )

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(append, range(8)))
    assert sorted(versions) == list(range(1, 9))
    snap = DeltaLog(spark, p).snapshot()
    assert snap.to_df().count() == 90
    assert snap.to_df().agg(F.sum("k")).first()[0] == sum(range(90))
    staged = os.listdir(os.path.join(f"{tmp_path}/t/_delta_log",
                                     "_commits"))
    assert len(staged) >= 9  # every landed commit staged first
