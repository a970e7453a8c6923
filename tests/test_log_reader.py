"""One ``_delta_log`` reader: every module reads table existence, the
log listing and commit lines through :mod:`levi_spark.delta.log`, so
they agree with snapshot reads on odd but valid logs and fail loudly,
naming the file and line, on malformed ones."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

import levi_spark
from levi_spark.delta.changes import table_changes_cdf
from levi_spark.delta.checkpoint import expire_log, write_checkpoint
from levi_spark.delta.constraints import set_table_properties
from levi_spark.delta.history import describe_history
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.vacuum import vacuum
from levi_spark.delta.writer import write_delta
from levi_spark.operators.replicate import replicate_cdf


def _commit(path: str, v: int) -> str:
    return os.path.join(path, "_delta_log", f"{v:020d}.json")


def _mk(spark, path: str) -> None:
    """v0 with ids 0-2, then two appends: v1 ids 3-4, v2 ids 5-6."""
    for mode, lo, hi in (("error", 0, 3), ("append", 3, 5), ("append", 5, 7)):
        write_delta(
            spark.range(lo, hi).select("id"), path, mode=mode,
        )


def _ids(spark, path: str) -> list[int]:
    return sorted(r.id for r in DeltaLog(spark, path).snapshot().to_df().collect())


def test_multipart_checkpoint_only_log_is_a_table(spark, tmp_path):
    """A log holding only a multi-part checkpoint (the layout a foreign
    writer leaves after log cleanup) is a table to write_delta too."""
    p = str(tmp_path / "t")
    write_delta(spark.range(3).select("id"), p, mode="error")
    write_delta(
        spark.range(3, 5).select("id"), p, mode="append"
    )
    v = write_checkpoint(spark, p)
    log_dir = os.path.join(p, "_delta_log")
    os.rename(
        os.path.join(log_dir, f"{v:020d}.checkpoint.parquet"),
        os.path.join(log_dir, f"{v:020d}.checkpoint.0000000001.0000000001.parquet"),
    )
    assert expire_log(spark, p) == [0, 1]
    assert DeltaLog.exists(p)
    with pytest.raises(ValueError, match="already exists"):
        write_delta(spark.range(5, 6).select("id"), p, mode="error")
    assert write_delta(
        spark.range(5, 7).select("id"), p, mode="append"
    ) == 2
    assert _ids(spark, p) == list(range(7))


def test_exists_needs_a_commit_or_checkpoint(spark, tmp_path):
    p = str(tmp_path / "t")
    assert not DeltaLog.exists(p)
    os.makedirs(os.path.join(p, "_delta_log"))
    assert not DeltaLog.exists(p)
    write_delta(spark.range(2).select("id"), p, mode="error")
    assert DeltaLog.exists(p) and DeltaLog.exists("file://" + p)


def test_blank_line_in_a_commit_is_skipped(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    with open(_commit(p, 1), "a") as f:
        f.write("\n")
    assert vacuum(spark, p, dry_run=True)["files_deleted"] == []
    feed = table_changes_cdf(spark, p, 0)
    assert sorted(r.id for r in feed.collect()) == [3, 4, 5, 6]
    hist = describe_history(spark, p).collect()
    assert [r.version for r in hist] == [2, 1, 0]
    assert hist[1].n_adds >= 1 and hist[1].operation == "WRITE"


@pytest.fixture
def torn(spark, tmp_path):
    """A table whose commit 1 carries a torn line before its commitInfo.
    The latest snapshot replays from a checkpoint at v2, so only readers
    of the commits themselves meet the torn line."""
    p = str(tmp_path / "t")
    _mk(spark, p)
    write_checkpoint(spark, p)
    path = _commit(p, 1)
    lines = open(path).read().splitlines()
    lines.insert(len(lines) - 1, '{"add": {"path": "part-')
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return p, re.escape(f"{path}:{len(lines) - 1}: malformed Delta log action")


@pytest.mark.parametrize(
    "reader",
    [
        pytest.param(lambda s, p: describe_history(s, p), id="describe_history"),
        pytest.param(lambda s, p: vacuum(s, p, dry_run=True), id="vacuum"),
        pytest.param(lambda s, p: table_changes_cdf(s, p, 0), id="table_changes_cdf"),
        pytest.param(
            lambda s, p: DeltaLog(s, p).commit_timestamps(), id="commit_timestamps"
        ),
    ],
)
def test_torn_line_names_file_and_line(spark, torn, reader):
    p, where = torn
    with pytest.raises(ValueError, match=where):
        reader(spark, p)


def test_torn_ict_predecessor_raises(spark, tmp_path):
    """The in-commit timestamp is anchored on the predecessor's
    commitInfo: a torn predecessor fails the commit instead of
    re-anchoring the clock."""
    p = str(tmp_path / "t")
    write_delta(spark.range(2).select("id"), p, mode="error")
    set_table_properties(spark, p, {"delta.enableInCommitTimestamps": "true"})
    write_checkpoint(spark, p)
    path = _commit(p, 1)
    with open(path) as f:
        lines = f.read().splitlines()
    with open(path, "w") as f:
        f.write("\n".join(lines[:-1] + ['{"commitInfo": {"timest']) + "\n")
    with pytest.raises(ValueError, match=re.escape(f"{path}:{len(lines)}:")):
        write_delta(
            spark.range(2, 3).select("id"), p, mode="append"
        )


def test_replicate_to_file_uri_goes_incremental(spark, tmp_path):
    src, dst = str(tmp_path / "src"), "file://" + str(tmp_path / "dst")
    write_delta(
        spark.range(5).select("id", (F.col("id") * 2).alias("v")), src,
        mode="error",
    )
    assert replicate_cdf(spark, src, dst, ["id"])["bootstrapped"]
    write_delta(
        spark.range(5, 8).select("id", (F.col("id") * 2).alias("v")), src,
        mode="append",
    )
    r = replicate_cdf(spark, src, dst, ["id"])
    assert not r["bootstrapped"] and r["applied_through"] == 1
    assert _ids(spark, dst) == list(range(8))


def _files_with(pattern: str) -> list[str]:
    pkg = os.path.dirname(levi_spark.__file__)
    return sorted(
        os.path.relpath(f, pkg)
        for f in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        if re.search(pattern, open(f).read())
    )


def test_only_log_module_reads_the_log():
    """Commit files are located and named only in ``delta/log.py``; the
    staged-commit layout is read there and in ``backfill_commits``,
    which ratifies staged commits for the filesystem coordinator."""
    assert _files_with(r"_commit_file\(|_COMMIT_RE") == ["delta/log.py"]
    assert _files_with(r"_STAGED_DIRS|_STAGED_RE") == [
        "delta/log.py", "delta/writer.py"
    ]
    src = open(os.path.join(os.path.dirname(levi_spark.__file__),
                            "delta", "writer.py")).read()
    uses = [m.start() for m in re.finditer(r"_STAGED_DIRS|_STAGED_RE", src)]
    start = src.index("def backfill_commits(")
    end = src.index("\ndef ", start + 1)
    assert uses and all(start < i < end for i in uses)
