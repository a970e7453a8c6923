"""Spark job counts of the levi operators on a small table. The log is
replayed on the driver, so the metadata plane, snapshot metadata and
the checkpoint writer answer from the log without starting a job, and
``drop_duplicates`` / ``kill_duplicates`` compute their loser set
once. Jobs are counted from the status store by submission time, so
jobs started on other threads (broadcasts, subqueries) count too."""

import time

import pytest

from levi_spark.delta.checkpoint import write_checkpoint
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.dedup import drop_duplicates, kill_duplicates
from levi_spark.operators.metadata import (
    delta_file_sizes,
    pruned_scan,
    skipped_stats,
    updated_partitions,
)


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs submitted while ``fn()`` runs."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    t0 = time.time() * 1000
    fn()
    t1 = time.time() * 1000
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    submitted = [jobs.apply(i).submissionTime() for i in range(jobs.size())]
    return sum(
        1 for s in submitted if s.isDefined() and t0 <= s.get().getTime() <= t1
    )


@pytest.fixture
def table_path(spark, tmp_path):
    loc = str(tmp_path / "t")
    for v, part in enumerate(["a", "b", "a"]):
        df = spark.range(10 * v, 10 * v + 10, numPartitions=1).selectExpr(
            "id % 15 as k", "id as x", f"'{part}' as p"
        )
        write_delta(df, loc, mode="error" if v == 0 else "append", partition_by=["p"])
    return loc


def test_metadata_plane_starts_no_job(spark, table_path):
    for op in (
        lambda s: skipped_stats(s, [("x", ">", 12)]),
        lambda s: delta_file_sizes(s),
        lambda s: updated_partitions(s),
        lambda s: pruned_scan(s, [("x", ">", 12), ("p", "=", "a")]),
    ):
        snap = DeltaLog(spark, table_path).snapshot()
        assert _jobs_started(spark, lambda: op(snap)) == 0


def test_snapshot_metadata_starts_no_job(spark, table_path):
    for op in (
        lambda s: s.metadata,
        lambda s: s.protocol,
        lambda s: s.txn_versions(),
        lambda s: s.domain_metadata(),
    ):
        snap = DeltaLog(spark, table_path).snapshot()
        assert _jobs_started(spark, lambda: op(snap)) == 0


@pytest.mark.parametrize("fmt", ["classic", "v2"])
def test_write_checkpoint_starts_no_job(spark, table_path, fmt):
    n = _jobs_started(spark, lambda: write_checkpoint(spark, table_path, format=fmt))
    assert n == 0
    assert DeltaLog(spark, table_path).snapshot().to_df().count() == 30


def test_drop_duplicates_job_budget(spark, table_path):
    t = LeviTable(spark, table_path)
    res = {}
    n = _jobs_started(spark, lambda: res.update(drop_duplicates(t, ["k"])))
    assert res["rows_deleted"] == 15
    assert n <= 10, n


def test_kill_duplicates_job_budget(spark, table_path):
    t = LeviTable(spark, table_path)
    res = {}
    n = _jobs_started(spark, lambda: res.update(kill_duplicates(t, ["k"])))
    # keys 0..14 appear twice over ids 0..29: every row is a loser
    assert res["rows_deleted"] == 30
    assert n <= 10, n
