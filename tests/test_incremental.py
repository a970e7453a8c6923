"""Incremental aggregate maintenance: the rollup after N change
commits must equal a from-scratch recompute, refreshes are exactly-once
per version window, and group births/deaths are handled."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.incremental import (
    init_aggregate,
    read_aggregate,
    refresh_aggregate,
)
from levi_spark.operators.merge import merge
from levi_spark.streaming.delta_source import SyncState


def _setup(spark, tmp_path):
    base = str(tmp_path / "base")
    agg = str(tmp_path / "agg")
    state = SyncState(str(tmp_path / "state.json"))
    df = spark.createDataFrame(
        [(i, ["x", "y", "z"][i % 3], float(i)) for i in range(30)],
        "id long, g string, v double",
    )
    write_delta(df, base, mode="error")
    init_aggregate(spark, base, agg, ["g"], ["v"], state)
    return base, agg, state


def _recompute(spark, base):
    return {
        (r.g, r.n, round(r.s, 4))
        for r in DeltaLog(spark, base)
        .snapshot()
        .to_df()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }


def _rollup(spark, agg):
    return {
        (r.g, r.n_rows, round(r.sum_v, 4))
        for r in read_aggregate(spark, agg, ["v"]).collect()
    }


def test_init_matches_full_compute(spark, tmp_path):
    base, agg, _ = _setup(spark, tmp_path)
    assert _rollup(spark, agg) == _recompute(spark, base)


def test_refresh_folds_all_change_types(spark, tmp_path):
    base, agg, state = _setup(spark, tmp_path)
    # delete (DV + cdf), update (merge + cdf), insert (plain append)
    soft_delete(spark, base, "id % 5 = 0", emit_cdf=True)
    src = spark.createDataFrame([(1, "y", 100.0), (2, "x", 200.0)],
                                "id long, g string, v double")
    merge(LeviTable(spark, base), src.alias("s"), "t.id = s.id").when_matched_update(
        set={"g": "s.g", "v": "s.v"}
    ).execute(emit_cdf=True)
    write_delta(
        spark.createDataFrame([(100, "w", 1.5)], "id long, g string, v double"),
        base, mode="append",
    )
    res = refresh_aggregate(spark, base, agg, ["g"], ["v"], state)
    assert res["groups_changed"] > 0
    assert _rollup(spark, agg) == _recompute(spark, base)  # incl. new group 'w'


def test_refresh_is_exactly_once(spark, tmp_path):
    base, agg, state = _setup(spark, tmp_path)
    soft_delete(spark, base, "id < 3", emit_cdf=True)
    refresh_aggregate(spark, base, agg, ["g"], ["v"], state)
    v = DeltaLog(spark, agg).latest_version()
    res2 = refresh_aggregate(spark, base, agg, ["g"], ["v"], state)
    assert res2["groups_changed"] == 0
    assert DeltaLog(spark, agg).latest_version() == v  # no empty commit
    assert _rollup(spark, agg) == _recompute(spark, base)


def test_group_death_removes_row(spark, tmp_path):
    base, agg, state = _setup(spark, tmp_path)
    soft_delete(spark, base, "g = 'z'", emit_cdf=True)
    refresh_aggregate(spark, base, agg, ["g"], ["v"], state)
    groups = {r.g for r in read_aggregate(spark, agg, ["v"]).collect()}
    assert groups == {"x", "y"}
    assert _rollup(spark, agg) == _recompute(spark, base)


def test_cross_group_update_nets_out(spark, tmp_path):
    base, agg, state = _setup(spark, tmp_path)
    # move every 'x' row to group 'y'
    src = (
        DeltaLog(spark, base).snapshot().to_df().where("g = 'x'")
        .select("id", F.lit("y").alias("g"), "v")
    )
    merge(LeviTable(spark, base), src.alias("s"), "t.id = s.id").when_matched_update(
        set={"g": "s.g"}
    ).execute(emit_cdf=True)
    refresh_aggregate(spark, base, agg, ["g"], ["v"], state)
    assert _rollup(spark, agg) == _recompute(spark, base)
    assert {r.g for r in read_aggregate(spark, agg, ["v"]).collect()} == {"y", "z"}
