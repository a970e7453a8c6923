"""Registry queries keep no state between calls: after the queries
that read the SimHash pair set and the three ANN pipelines have run in
one session, no module-level value of ``levi_spark.queries`` holds a
DataFrame (a staged frame kept there would make a later call's time
and work depend on which queries ran before it), and lifecycle queries
write under a fresh scratch dir per invocation."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from levi_spark import queries

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
