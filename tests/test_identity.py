"""Delta IDENTITY columns (writer feature identityColumns):
system-assigned values via delta.identity.* field metadata, high-water
mark persistence, GENERATED ALWAYS vs BY DEFAULT, and validation
contracts."""

from __future__ import annotations

import pytest

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def _one(df, key):
    return df.repartition(1).sortWithinPartitions(key)


def _uid_meta(spark, path):
    snap = DeltaLog(spark, path).snapshot()
    return {f.name: f.metadata for f in snap.metadata.schema.fields}["uid"]


def test_generated_always_assigns_and_advances_mark(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _one(spark.range(10).selectExpr("id AS k"), "k"), p, mode="error",
        identity={"uid": {"start": 100, "step": 10}},
    )
    snap = DeltaLog(spark, p).snapshot()
    assert "identityColumns" in snap.protocol["writerFeatures"]
    got = sorted((r.k, r.uid) for r in snap.to_df().collect())
    assert got == [(i, 100 + 10 * i) for i in range(10)]
    assert _uid_meta(spark, p)["delta.identity.highWaterMark"] == 190
    # append inherits the spec and continues beyond the mark
    write_delta(
        _one(spark.range(10, 14).selectExpr("id AS k"), "k"), p,
        mode="append",
    )
    snap = DeltaLog(spark, p).snapshot()
    got = sorted((r.k, r.uid) for r in snap.to_df().collect())
    assert got == [(i, 100 + 10 * i) for i in range(14)]
    assert _uid_meta(spark, p)["delta.identity.highWaterMark"] == 230


def test_always_refuses_explicit_and_partition_identity(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        spark.range(3).selectExpr("id AS k"), p, mode="error",
        identity={"uid": {}},
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        write_delta(
            spark.range(1).selectExpr("id AS k", "CAST(9 AS LONG) AS uid"),
            p, mode="append",
        )
    with pytest.raises(ValueError, match="partition column"):
        write_delta(
            spark.range(2).selectExpr("id AS k"), str(tmp_path / "t2"),
            mode="error",
            identity={"uid": {}}, partition_by=["uid"],
        )
    with pytest.raises(ValueError, match="step must be nonzero"):
        write_delta(
            spark.range(2).selectExpr("id AS k"), str(tmp_path / "t3"),
            mode="error",
            identity={"uid": {"step": 0}},
        )
    with pytest.raises(ValueError, match="create/overwrite"):
        write_delta(
            spark.range(3, 4).selectExpr("id AS k"), p, mode="append",
            identity={"uid": {}},
        )


def test_by_default_accepts_explicit_and_mark_passes_them(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _one(spark.range(3).selectExpr("id AS k"), "k"), p, mode="error",
        identity={"uid": {"start": 1, "step": 1,
                          "allow_explicit_insert": True}},
    )
    write_delta(
        spark.range(3, 5).selectExpr("id AS k", "CAST(id * 1000 AS LONG) AS uid"),
        p, mode="append",
    )
    assert _uid_meta(spark, p)["delta.identity.highWaterMark"] == 4000
    write_delta(
        _one(spark.range(5, 8).selectExpr("id AS k"), "k"), p,
        mode="append",
    )
    snap = DeltaLog(spark, p).snapshot()
    rows = sorted((r.k, r.uid) for r in snap.to_df().collect())
    uids = [u for _, u in rows]
    assert len(set(uids)) == len(uids)
    # system values minted after the explicit insert sit beyond it
    assert all(u > 4000 for k, u in rows if k >= 5)


def test_negative_step_uses_min_stats(spark, tmp_path):
    p = str(tmp_path / "t")
    write_delta(
        _one(spark.range(5).selectExpr("id AS k"), "k"), p, mode="error",
        identity={"uid": {"start": 0, "step": -3}},
    )
    got = sorted((r.k, r.uid) for r in DeltaLog(spark, p).snapshot().to_df().collect())
    # base = start - step = 3; value_i = 3 + (i+1) * (-3)
    assert [u for _, u in got] == [0, -3, -6, -9, -12]
    assert _uid_meta(spark, p)["delta.identity.highWaterMark"] == -12
    write_delta(
        _one(spark.range(5, 7).selectExpr("id AS k"), "k"), p,
        mode="append",
    )
    assert _uid_meta(spark, p)["delta.identity.highWaterMark"] == -18


def test_mark_survives_overwrite(spark, tmp_path):
    """The high water mark is monotonic table state: an overwrite that
    re-declares the identity column must not reuse spent ids."""
    p = str(tmp_path / "t")
    write_delta(
        _one(spark.range(6).selectExpr("id AS k"), "k"), p, mode="error",
        identity={"uid": {"start": 1, "step": 1}},
    )
    write_delta(
        _one(spark.range(2).selectExpr("id AS k"), "k"), p, mode="overwrite",
        identity={"uid": {"start": 1, "step": 1}},
    )
    got = sorted(r.uid for r in DeltaLog(spark, p).snapshot().to_df().collect())
    assert got == [7, 8]


def test_rewriters_pass_identity_through(spark, tmp_path):
    """OPTIMIZE compaction and DV purge carry existing identity values
    through the rewrite (no refusal, no re-minting) and the mark
    stays correct."""
    from levi_spark.delta.dv import soft_delete, purge_deleted
    from levi_spark.operators.layout import compact_small_files

    p = str(tmp_path / "t")
    write_delta(
        _one(spark.range(20).selectExpr("id AS k"), "k"), p, mode="error",
        identity={"uid": {"start": 5, "step": 3}},
    )
    write_delta(
        _one(spark.range(20, 30).selectExpr("id AS k"), "k"), p,
        mode="append",
    )
    before = sorted(
        (r.k, r.uid) for r in DeltaLog(spark, p).snapshot().to_df().collect()
    )
    compact_small_files(spark, p, small_bytes=1 << 30, target_bytes=1 << 30)
    after = sorted(
        (r.k, r.uid) for r in DeltaLog(spark, p).snapshot().to_df().collect()
    )
    assert after == before
    assert _uid_meta(spark, p)["delta.identity.highWaterMark"] == 5 + 3 * 29
    soft_delete(spark, p, "k % 3 = 0")
    purge_deleted(spark, p)
    got = sorted(
        (r.k, r.uid) for r in DeltaLog(spark, p).snapshot().to_df().collect()
    )
    assert got == [(k, u) for k, u in before if k % 3 != 0]
    # and a fresh append still mints beyond the (unchanged) mark
    write_delta(
        _one(spark.range(30, 32).selectExpr("id AS k"), "k"), p,
        mode="append",
    )
    uids = [r.uid for r in DeltaLog(spark, p).snapshot().to_df().collect()]
    assert len(set(uids)) == len(uids)


def test_merge_generates_identity_for_inserts(spark, tmp_path):
    """MERGE passes rewritten rows' ids through, refuses INSERT
    assignment of a GENERATED ALWAYS column, and mints fresh ids for
    unassigned inserts."""
    from pyspark.sql import functions as F

    from levi_spark.delta.table import LeviTable
    from levi_spark.operators.merge import merge

    p = str(tmp_path / "t")
    write_delta(
        _one(spark.range(10).selectExpr("id AS k", "id AS v"), "k"), p,
        mode="error", identity={"uid": {}},
    )
    src = spark.range(8, 13).selectExpr("id AS k", "id * 100 AS v")
    res = (
        merge(LeviTable(spark, p), src, "t.k = s.k")
        .when_matched_update(set={"v": F.expr("s.v")})
        .when_not_matched_insert(values={"k": F.expr("s.k"), "v": F.expr("s.v")})
        .execute()
    )
    assert res["version"] >= 1
    rows = {r.k: (r.v, r.uid) for r in DeltaLog(spark, p).snapshot().to_df().collect()}
    # untouched + updated rows keep their original uid (uid = k + 1)
    for k in range(10):
        assert rows[k][1] == k + 1, rows[k]
    assert rows[8][0] == 800 and rows[9][0] == 900
    # inserted rows got fresh system ids beyond the mark (10)
    ins = [rows[k][1] for k in (10, 11, 12)]
    assert all(u > 10 for u in ins) and len(set(ins)) == 3
    assert _uid_meta(spark, p)["delta.identity.highWaterMark"] == max(
        u for _, u in rows.values()
    )
    # ALWAYS assignment in an insert clause refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="MERGE INSERT cannot assign"):
        (
            merge(LeviTable(spark, p), spark.range(50, 51).selectExpr("id AS k", "id AS v"), "t.k = s.k")
            .when_not_matched_insert(
                values={"k": F.expr("s.k"), "v": F.expr("s.v"),
                        "uid": F.expr("CAST(1 AS LONG)")}
            )
            .execute()
        )
