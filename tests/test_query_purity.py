"""Registry queries keep no state between calls: after the queries
that read the SimHash pair set and the three ANN pipelines have run in
one session, no module-level value of ``levi_spark.queries`` holds a
DataFrame (a staged frame kept there would make a later call's time
and work depend on which queries ran before it), and lifecycle queries
write under a fresh scratch dir per invocation. Two query helpers are
pinned here too: the market-basket oracle shares the Spark path's cap,
and the data-file census counts orphans."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from levi_spark import queries
from levi_spark.delta.writer import write_delta
from levi_spark.queries import (
    MARKET_BASKET_CAP,
    MARKET_BASKET_SQL,
    _data_parquet_census,
)

CONSUMERS = (
    "dedup_canonical_corpus",
    "neardup_clusters",
    "ann_recall_scores",
    "ann_ranking_metrics",
)


def _holds_frame(value) -> bool:
    if isinstance(value, DataFrame):
        return True
    if isinstance(value, dict):
        return any(_holds_frame(v) for v in (*value.keys(), *value.values()))
    if isinstance(value, (list, tuple, set, frozenset)):
        return any(_holds_frame(v) for v in value)
    return False


def test_queries_leave_no_module_level_frames(spark, testdata_dir):
    for name in CONSUMERS:
        fn, _sql = queries.QUERIES[name]
        fn(spark, testdata_dir).write.mode("overwrite").format("noop").save()
    held = sorted(k for k, v in vars(queries).items() if _holds_frame(v))
    assert held == []


def test_scratch_dirs_unique_per_invocation():
    from levi_spark.queries import _scratch

    a, b = _scratch("x"), _scratch("x")
    assert a != b and os.path.isdir(a) and os.path.isdir(b)


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
