"""Log-replay reader correctness against the reference's DAT-style fixture
corpus (11 generated Delta tables, each with golden `expected/<version>/
table_content.parquet`). Reference test model: SURVEY.md §5."""

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog

CASES = [
    "all_primitive_types",
    "basic_append",
    "basic_partitioned",
    "multi_partitioned",
    "multi_partitioned_2",
    "nested_types",
    "no_replay",
    "no_stats",
    "stats_as_struct",
    "with_checkpoint",
    "with_schema_change",
]


def _expected_versions(case_dir):
    exp = os.path.join(case_dir, "expected")
    return sorted(
        int(v[1:]) for v in os.listdir(exp) if v.startswith("v") and v[1:].isdigit()
    )


def _sorted_rows(df):
    cols = df.columns
    out = [tuple(r) for r in df.select(*sorted(cols)).collect()]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


@pytest.mark.parametrize("case", CASES)
def test_snapshot_content_matches_expected(spark, fixtures_dir, case):
    case_dir = os.path.join(fixtures_dir, case)
    table = os.path.join(case_dir, "delta")
    log = DeltaLog(spark, table)
    for v in _expected_versions(case_dir):
        exp_path = os.path.join(case_dir, "expected", f"v{v}", "table_content.parquet")
        expected = spark.read.parquet(exp_path)
        actual = log.snapshot(v).to_df()
        assert sorted(actual.columns) == sorted(expected.columns), (case, v)
        # Align column types (expected parquet may differ in nullable-ness
        # but values must match); compare as sorted row-tuples.
        act = _sorted_rows(actual)
        exp = _sorted_rows(expected.select(*actual.columns))
        assert act == exp, f"{case} v{v}: {act[:3]} != {exp[:3]}"


def test_latest_version(spark, fixtures_dir):
    # basic_append's expected/latest metadata predates its 3rd commit
    # (delta-rs-written), so assert explicit versions: max commit id.
    for case, want in [("multi_partitioned", 2), ("basic_append", 2), ("no_replay", 3)]:
        log = DeltaLog(spark, os.path.join(fixtures_dir, case, "delta"))
        assert log.latest_version() == want, case


def test_add_actions_stats(spark, fixtures_dir):
    log = DeltaLog(spark, os.path.join(fixtures_dir, "basic_append", "delta"))
    aa = log.snapshot().add_actions()
    rows = {r["path"]: r for r in aa.collect()}
    assert len(rows) == 3
    sizes = sorted(r["size_bytes"] for r in rows.values())
    assert sizes == [984, 996, 2891]
    mins = sorted(r["stats"]["minValues"]["a_float"] for r in rows.values())
    assert mins == [1.1, 2.3, 4.4]


def test_add_actions_no_stats(spark, fixtures_dir):
    log = DeltaLog(spark, os.path.join(fixtures_dir, "no_stats", "delta"))
    aa = log.snapshot().add_actions().collect()
    assert all(r["stats"] is None or r["stats"]["minValues"] is None for r in aa)


def test_flat_stats_columns(spark, fixtures_dir):
    log = DeltaLog(spark, os.path.join(fixtures_dir, "basic_append", "delta"))
    flat = log.snapshot().add_actions_flat()
    assert "min.a_float" in flat.columns and "max.number" in flat.columns
    got = flat.where(F.expr("`min.a_float` <= 4.5 and `max.a_float` >= 4.5")).count()
    assert got == 1


def test_partition_values_typed(spark, fixtures_dir):
    log = DeltaLog(spark, os.path.join(fixtures_dir, "multi_partitioned", "delta"))
    # v1 contains the __HIVE_DEFAULT_PARTITION__ null-partition file
    # (removed again by the v2 overwrite).
    df = log.snapshot(1).to_df()
    types = dict(df.dtypes)
    assert types["letter"] == "string" and types["date"] == "date"
    # null partition (__HIVE_DEFAULT_PARTITION__) surfaces as SQL NULL
    assert df.where(F.col("letter").isNull()).count() == 1


def test_torn_commit_fails_loudly(spark, tmp_path):
    """A torn ``add`` line in commit 1 fails every read at or after
    version 1, naming the file and line, instead of replaying the
    version-0 state. The checkpoint writer refuses too, so no
    checkpoint bakes the loss in for ``expire_log`` to make
    permanent."""
    from levi_spark.delta.checkpoint import write_checkpoint
    from levi_spark.delta.writer import write_delta

    path = str(tmp_path / "t")
    write_delta(spark.range(0, 100, numPartitions=2), path, mode="error")
    write_delta(spark.range(100, 200, numPartitions=2), path, mode="append")
    commit1 = os.path.join(path, "_delta_log", f"{1:020d}.json")
    with open(commit1) as f:
        lines = f.read().splitlines()
    i = next(n for n, line in enumerate(lines) if line.startswith('{"add"'))
    lines[i] = lines[i][: len(lines[i]) // 2]
    with open(commit1, "w") as f:
        f.write("\n".join(lines) + "\n")

    where = re.escape(f"{commit1}:{i + 1}: malformed Delta log action")
    with pytest.raises(ValueError, match=where):
        DeltaLog(spark, path).snapshot().to_df().count()
    with pytest.raises(ValueError, match=where):
        DeltaLog(spark, path).snapshot(1).metadata
    with pytest.raises(ValueError, match=where):
        write_checkpoint(spark, path)
    assert not glob.glob(os.path.join(path, "_delta_log", "*.checkpoint*"))
    # the versions before the torn commit still read
    assert DeltaLog(spark, path).snapshot(0).to_df().count() == 100
