"""Executor-side write paths over URI table targets (VERDICT r11 ask
#5): self-hosted parquet staging and standard deletion-vector emission
must work when the table is addressed by a scheme URI.

Two branches exist:

* ``file://`` (a ``local_form`` exists): executors open the POSIX form
  directly — covered here end to end and by the driver gate
  ``fs_scheme_roundtrip``;
* genuinely remote (no local form): executors stage into a
  driver-visible local scratch and the staged files are copied out
  through the scheme filesystem (Hadoop ``FileUtil.copy``). Forced
  here by monkeypatching ``local_form`` to pretend the ``file://``
  target is remote, so the REAL copy machinery (py4j → FileUtil) runs
  against a URI we can verify byte-for-byte."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _df(spark, n=400):
    return spark.range(0, n, 1, 4).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 0.25).alias("v"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
    )


def test_self_hosted_over_file_uri(spark, tmp_path):
    p = f"file://{tmp_path}/t"
    write_delta(_df(spark), p, self_hosted=True)
    snap = DeltaLog(spark, p).snapshot()
    df = snap.to_df()
    assert df.count() == 400
    assert df.agg(F.sum("k")).first()[0] == sum(range(400))
    # the data files are OUR parquet bytes (self-hosted staging ran)
    names = os.listdir(f"{tmp_path}/t")
    assert any(n.endswith(".snappy.parquet") for n in names)


def test_self_hosted_partitioned_over_file_uri(spark, tmp_path):
    p = f"file://{tmp_path}/t"
    write_delta(_df(spark), p, self_hosted=True, partition_by=["g"])
    snap = DeltaLog(spark, p).snapshot()
    assert snap.metadata.partition_columns == ["g"]
    assert snap.to_df().where("g = 1").count() == len(
        [i for i in range(400) if i % 3 == 1]
    )
    assert os.path.isdir(f"{tmp_path}/t/g=2")


def test_standard_dv_over_file_uri(spark, tmp_path):
    p = f"file://{tmp_path}/t"
    write_delta(_df(spark), p)
    out = soft_delete(spark, p, "k % 5 = 0")
    assert out["rows_deleted"] == 80
    names = os.listdir(f"{tmp_path}/t")
    # small bitmaps may inline ('i'); with 80 rows over 4 files the
    # descriptors can go either way — what must hold is the read-back
    survivors = [i for i in range(400) if i % 5 != 0]
    back = DeltaLog(spark, p).snapshot().to_df()
    assert back.count() == len(survivors)
    assert back.agg(F.sum("k")).first()[0] == sum(survivors)


def _force_remote(monkeypatch, module):
    """Make ``module.local_form`` report 'no local form' for URIs, so
    the remote scratch-stage + seam-copy branch runs (the file:// URI
    still resolves through HadoopFS for the copy itself)."""
    import levi_spark.fs as fsmod

    def no_local(path):
        if fsmod._has_scheme(path):
            return None
        return path

    monkeypatch.setattr(module, "local_form", no_local)


def test_self_hosted_remote_branch(spark, tmp_path, monkeypatch):
    import levi_spark.delta.writer as W

    _force_remote(monkeypatch, W)
    p = f"file://{tmp_path}/t"
    write_delta(_df(spark), p, self_hosted=True)
    snap = DeltaLog(spark, p).snapshot()
    assert snap.to_df().count() == 400
    assert snap.to_df().agg(F.sum("k")).first()[0] == sum(range(400))
    names = os.listdir(f"{tmp_path}/t")
    assert any(n.endswith(".snappy.parquet") for n in names)
    # no staging residue, local or remote
    assert not [n for n in names if n.startswith(".staging")]


def test_self_hosted_remote_branch_partitioned(spark, tmp_path, monkeypatch):
    import levi_spark.delta.writer as W

    _force_remote(monkeypatch, W)
    p = f"file://{tmp_path}/t"
    write_delta(_df(spark), p, self_hosted=True, partition_by=["g"])
    snap = DeltaLog(spark, p).snapshot()
    assert snap.to_df().count() == 400
    assert os.path.isdir(f"{tmp_path}/t/g=0")
    one = snap.to_df().where("g = 2")
    assert one.agg(F.sum("k")).first()[0] == sum(
        i for i in range(400) if i % 3 == 2
    )


def test_standard_dv_remote_branch(spark, tmp_path, monkeypatch):
    # dv.py binds local_form at call time from levi_spark.fs, so the
    # patch goes there (driver-side only — executor workers import
    # their own unpatched copy, which is exactly the real topology)
    import levi_spark.fs as fsmod

    p = f"file://{tmp_path}/t"
    write_delta(_df(spark, 4000), p)  # enough rows to force 'u' files
    _force_remote(monkeypatch, fsmod)
    out = soft_delete(spark, p, "k % 2 = 0")
    assert out["rows_deleted"] == 2000
    survivors = [i for i in range(4000) if i % 2 == 1]
    back = DeltaLog(spark, p).snapshot().to_df()
    assert back.count() == len(survivors)
    assert back.agg(F.sum("k")).first()[0] == sum(survivors)
    # if any descriptor went to a file, the .bin landed at the URI root
    dv_files = [n for n in os.listdir(f"{tmp_path}/t")
                if n.startswith("deletion_vector_")]
    rows = DeltaLog(spark, p).snapshot().deletion_vector_rows()
    assert rows.count() == 2000
    assert isinstance(dv_files, list)  # presence depends on bitmap size


def test_standard_dv_remote_read_prefetch(spark, tmp_path, monkeypatch):
    """Read-side counterpart: on a remote-URI table the driver reads
    each DV file through the filesystem seam before decoding it.
    Forced-remote over file:// so the read goes through the real
    HadoopFS."""
    import levi_spark.fs as fsmod

    p = f"file://{tmp_path}/t"
    write_delta(_df(spark, 4000), p)
    soft_delete(spark, p, "k % 2 = 0")
    # descriptors may be 'u' files or inline; only 'u' reads a file —
    # assert at least one file descriptor exists so the branch is real
    dv_files = [n for n in os.listdir(f"{tmp_path}/t")
                if n.startswith("deletion_vector_")]
    assert dv_files, "fixture did not produce a 'u' DV file"
    _force_remote(monkeypatch, fsmod)
    snap = DeltaLog(spark, p).snapshot()
    rows = snap.deletion_vector_rows()
    assert rows.count() == 2000
    back = snap.to_df()
    survivors = [i for i in range(4000) if i % 2 == 1]
    assert back.count() == len(survivors)
    assert back.agg(F.sum("k")).first()[0] == sum(survivors)
