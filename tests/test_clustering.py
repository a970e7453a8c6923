"""Liquid clustering (writer feature "clustering"): domain metadata
round trip, clusteringProvider on add actions, range-disjoint file
layout, append inheritance, and refusals (partition conflict, column
mismatch, redefinition on append)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("clu") / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    write_delta(df.where("id < 700"), p, mode="error",
                cluster_by=["k"])
    write_delta(df.where("id >= 700"), p, mode="append")
    return p


def test_domain_metadata_round_trip(spark, clustered):
    snap = DeltaLog(spark, clustered).snapshot()
    assert snap.clustering_columns() == ["k"]
    dm = snap.domain_metadata()["delta.clustering"]
    assert json.loads(dm["configuration"]) == {"clusteringColumns": [["k"]]}
    assert "clustering" in snap.protocol["writerFeatures"]
    assert "domainMetadata" in snap.protocol["writerFeatures"]


def test_every_file_carries_the_provider(spark, clustered):
    adds = DeltaLog(spark, clustered).snapshot().live_adds_collected()
    assert len(adds) > 1
    assert all(r["add"]["clusteringProvider"] == "liquid" for r in adds)


def test_files_are_range_disjoint_per_commit(spark, clustered):
    """Range clustering: within one commit, file [min,max] spans of
    the clustering column may touch only at boundaries."""
    adds = DeltaLog(spark, clustered).snapshot().live_adds_collected()
    by_commit: dict[int, list[tuple[int, int]]] = {}
    for r in adds:
        st = json.loads(r["add"]["stats"])
        by_commit.setdefault(r["version"], []).append(
            (int(st["minValues"]["k"]), int(st["maxValues"]["k"]))
        )
    for spans in by_commit.values():
        spans.sort()
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, spans


def test_append_inherits_clustering(spark, clustered):
    """The append (no cluster_by passed) still laid out by range and
    stamped the provider — clustering is a table property."""
    adds = DeltaLog(spark, clustered).snapshot().live_adds_collected()
    appended = [r for r in adds if r["version"] == 1]
    assert appended
    assert all(r["add"]["clusteringProvider"] == "liquid" for r in appended)


def test_content_survives(spark, clustered):
    df = DeltaLog(spark, clustered).snapshot().to_df()
    assert df.count() == 1000
    assert df.agg(F.sum("k")).collect()[0][0] == 999 * 1000 // 2


def test_point_lookup_touches_one_file(spark, clustered):
    """The pruning payoff: a point predicate on the clustering column
    overlaps exactly one file span per commit."""
    adds = DeltaLog(spark, clustered).snapshot().live_adds_collected()
    v0 = [r for r in adds if r["version"] == 0]
    probe = 350
    hits = [
        r for r in v0
        if json.loads(r["add"]["stats"])["minValues"]["k"] <= probe
        <= json.loads(r["add"]["stats"])["maxValues"]["k"]
    ]
    assert len(hits) == 1


def test_refusals(spark, tmp_path, clustered):
    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="hive-partitioned"):
        write_delta(df, str(tmp_path / "a"), mode="error",
                    cluster_by=["k"], partition_by=["k"])
    with pytest.raises(ValueError, match="not in df"):
        write_delta(df, str(tmp_path / "b"), mode="error",
                    cluster_by=["nope"])
    with pytest.raises(ValueError, match="!= table clustering"):
        write_delta(
            spark.range(5).select(F.col("id").alias("k"),
                                  F.lit(0).alias("v")),
            clustered, mode="append", cluster_by=["v"],
        )


def test_recluster_makes_spans_globally_disjoint(spark, tmp_path):
    """Appends overlap across commits; OPTIMIZE (recluster) merges the
    live set into globally disjoint range files, keeps the domain, and
    preserves content."""
    from levi_spark.operators.layout import recluster

    p = str(tmp_path / "t")
    df = spark.range(600).select(F.col("id").alias("k"))
    write_delta(df.where("id % 2 = 0"), p, mode="error",
                cluster_by=["k"])
    write_delta(df.where("id % 2 = 1"), p, mode="append")

    def spans(snap):
        out = []
        for r in snap.live_adds_collected():
            st = json.loads(r["add"]["stats"])
            out.append((int(st["minValues"]["k"]), int(st["maxValues"]["k"])))
        return sorted(out)

    before = spans(DeltaLog(spark, p).snapshot())
    assert any(h1 > l2 for (_, h1), (l2, _) in zip(before, before[1:])), (
        "fixture must overlap across commits before OPTIMIZE"
    )
    v = recluster(spark, p)
    snap = DeltaLog(spark, p).snapshot()
    assert snap.version == v
    after = spans(snap)
    assert all(h1 <= l2 for (_, h1), (l2, _) in zip(after, after[1:])), after
    assert snap.clustering_columns() == ["k"]
    assert all(
        r["add"]["clusteringProvider"] == "liquid"
        for r in snap.live_adds_collected()
    )
    assert snap.to_df().count() == 600


def test_recluster_refuses_unclustered(spark, tmp_path):
    from levi_spark.operators.layout import recluster

    p = str(tmp_path / "t")
    write_delta(spark.range(10), p, mode="error")
    with pytest.raises(ValueError, match="no delta.clustering"):
        recluster(spark, p)


def test_provider_survives_checkpoint_and_distributed_replay(spark, tmp_path):
    """clusteringProvider round-trips through a checkpoint parquet:
    with every commit before it expired, the checkpoint alone rebuilds
    the provider on each live add."""
    from levi_spark.delta.checkpoint import expire_log
    from levi_spark.delta.constraints import set_table_properties

    p = str(tmp_path / "t")
    df = spark.range(200).select(F.col("id").alias("k"))
    write_delta(df, p, mode="error", cluster_by=["k"])
    # checkpoint every commit from here on: v1 and v2
    set_table_properties(spark, p, {"delta.checkpointInterval": "1"})
    write_delta(df.select((F.col("k") + 200).alias("k")), p, mode="append")
    assert expire_log(spark, p) == [0, 1, 2]
    snap = DeltaLog(spark, p).snapshot()
    assert all(
        r["add"]["clusteringProvider"] == "liquid"
        for r in snap.live_adds_collected()
    )
    assert snap.to_df().count() == 400


@pytest.mark.parametrize("fmt", ["classic", "v2"])
def test_clustering_columns_survive_checkpoint_and_expiry(spark, tmp_path, fmt):
    """Checkpoints carry the live domainMetadata: after a checkpoint and
    log expiry the table is still clustered by ``k``, so a clustered
    append is accepted and keeps the domain."""
    from levi_spark.delta.checkpoint import expire_log, write_checkpoint

    p = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"))
    write_delta(df, p, mode="error", cluster_by=["k"])
    write_delta(df, p, mode="append")
    v = write_checkpoint(spark, p, format=fmt)
    assert expire_log(spark, p) == list(range(v + 1))
    assert DeltaLog(spark, p).snapshot().clustering_columns() == ["k"]
    write_delta(df, p, mode="append", cluster_by=["k"])
    snap = DeltaLog(spark, p).snapshot()
    assert snap.clustering_columns() == ["k"]
    assert snap.to_df().count() == 300


def test_removed_domain_stays_removed_through_checkpoint(spark, tmp_path):
    """A ``removed`` domainMetadata action clears the domain, and the
    checkpoint written after it does not bring the domain back."""
    from levi_spark.delta.checkpoint import expire_log, write_checkpoint

    p = str(tmp_path / "t")
    write_delta(spark.range(10).select(F.col("id").alias("k")), p,
                mode="error", cluster_by=["k"])
    with open(os.path.join(p, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"domainMetadata": {
            "domain": "delta.clustering", "configuration": "{}",
            "removed": True}}) + "\n")
    assert DeltaLog(spark, p).snapshot().domain_metadata() == {}
    write_checkpoint(spark, p)
    expire_log(spark, p)
    snap = DeltaLog(spark, p).snapshot()
    assert snap.domain_metadata() == {} and snap.clustering_columns() == []
