"""CDC replication: replica == source after arbitrary mutation mixes,
idempotent re-sync, multi-version window collapse, bootstrap."""

import os

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.dv import soft_delete
from levi_spark.delta.log import DeltaLog
from levi_spark.delta.table import LeviTable
from levi_spark.delta.writer import write_delta
from levi_spark.operators.merge import merge
from levi_spark.operators.replicate import replicate_cdf


def _rows(spark, path):
    df = DeltaLog(spark, path).snapshot().to_df()
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def _mk_src(spark, path):
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(20)], "k LONG, name STRING, v DOUBLE"
    )
    write_delta(df.repartition(3), path, mode="error")


def test_bootstrap_and_incremental_sync(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _mk_src(spark, src)
    r = replicate_cdf(spark, src, dst, ["k"])
    assert r["bootstrapped"] and _rows(spark, dst) == _rows(spark, src)

    # mutate: append + DV delete + MERGE update, then ONE sync
    write_delta(
        spark.createDataFrame([(100, "new", 1.0)], "k LONG, name STRING, v DOUBLE"),
        src, mode="append",
    )
    soft_delete(spark, src, "k % 5 = 0 AND k < 100", emit_cdf=True)
    upd = spark.createDataFrame([(3, 33.0), (7, 77.0)], "uk LONG, uv DOUBLE")
    (
        merge(LeviTable(spark, src), upd, "t.k = s.uk")
        .when_matched_update(set={"v": "s.uv"})
        .execute(emit_cdf=True)
    )
    r = replicate_cdf(spark, src, dst, ["k"])
    assert r["keys_changed"] > 0
    assert _rows(spark, dst) == _rows(spark, src)

    # re-sync: no new source version -> no-op, same replica version
    v = DeltaLog(spark, dst).latest_version()
    r2 = replicate_cdf(spark, src, dst, ["k"])
    assert r2["keys_changed"] == 0
    assert DeltaLog(spark, dst).latest_version() == v


def test_delete_then_reinsert_collapses_to_upsert(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _mk_src(spark, src)
    replicate_cdf(spark, src, dst, ["k"])
    # two source versions: delete k=4, then append a NEW row with k=4
    soft_delete(spark, src, "k = 4", emit_cdf=True)
    write_delta(
        spark.createDataFrame([(4, "reborn", 44.0)], "k LONG, name STRING, v DOUBLE"),
        src, mode="append",
    )
    replicate_cdf(spark, src, dst, ["k"])
    assert _rows(spark, dst) == _rows(spark, src)
    got = {
        (r["k"], r["name"])
        for r in DeltaLog(spark, dst).snapshot().to_df().collect()
    }
    assert (4, "reborn") in got and (4, "n4") not in got


def test_bootstrap_is_file_level_clone(spark, tmp_path):
    """Bootstrap must re-link the source's files (byte-identical
    copies, same relative paths, original stats re-emitted), not
    re-encode rows through a Spark write."""
    import filecmp
    import json

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _mk_src(spark, src)
    # DV on the source BEFORE bootstrap: the clone must carry it over
    soft_delete(spark, src, "k = 11", emit_cdf=True)
    r = replicate_cdf(spark, src, dst, ["k"])
    assert r["bootstrapped"]
    assert _rows(spark, dst) == _rows(spark, src)

    src_adds = {
        a["add"]["path"]: a["add"]
        for v in sorted(
            f for f in os.listdir(os.path.join(src, "_delta_log"))
            if f.endswith(".json")
        )
        for a in map(json.loads, open(os.path.join(src, "_delta_log", v)))
        if "add" in a
    }
    with open(os.path.join(dst, "_delta_log", f"{0:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    dst_adds = [a["add"] for a in actions if "add" in a]
    assert dst_adds, "clone commit carries no add actions"
    for add in dst_adds:
        p = add["path"]
        assert p in src_adds, f"clone invented a path: {p}"
        assert filecmp.cmp(
            os.path.join(src, p), os.path.join(dst, p), shallow=False
        ), f"{p} not byte-identical"
        assert add["stats"] == src_adds[p]["stats"]
    assert any(a.get("commitInfo", {}).get("operation") == "CLONE" for a in actions)

    # incremental sync still works on top of a cloned bootstrap
    write_delta(
        spark.createDataFrame([(200, "post", 2.0)], "k LONG, name STRING, v DOUBLE"),
        src, mode="append",
    )
    replicate_cdf(spark, src, dst, ["k"])
    assert _rows(spark, dst) == _rows(spark, src)


def test_bootstrap_falls_back_to_rewrite_for_external_paths(spark, tmp_path):
    """A source whose log references files by ABSOLUTE path can't be
    re-linked as a relative-path clone; bootstrap must detect that and
    fall back to the row-level rewrite, still producing an exact
    replica."""
    import json

    from levi_spark.operators.replicate import _bootstrap_clone
    from levi_spark.delta.log import DeltaLog as _DL

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _mk_src(spark, src)
    # rewrite commit 0: one add path becomes absolute (same file)
    cpath = os.path.join(src, "_delta_log", f"{0:020d}.json")
    lines = [json.loads(line) for line in open(cpath)]
    for d in lines:
        if "add" in d:
            d["add"]["path"] = os.path.join(src, d["add"]["path"])
            break
    with open(cpath, "w") as f:
        f.write("\n".join(json.dumps(d) for d in lines) + "\n")

    log = _DL(spark, src)
    assert _bootstrap_clone(log, dst + "-probe", "app", log.latest_version()) is False
    r = replicate_cdf(spark, src, dst, ["k"])
    assert r["bootstrapped"]
    assert _rows(spark, dst) == _rows(spark, src)


def test_foreign_replica_refused(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    _mk_src(spark, src)
    _mk_src(spark, dst)  # pre-existing table with no replication txn
    with pytest.raises(ValueError, match="no replication"):
        replicate_cdf(spark, src, dst, ["k"])


def test_replicate_window_with_overwrite_keeps_surviving_keys(spark, tmp_path):
    """An overwrite commit synthesizes delete+insert rows at ONE commit
    version for every key present on both sides; the sync must land the
    insert image, not the (alphabetically-first) delete image."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(20)],
        "k LONG, name STRING, v DOUBLE",
    )
    write_delta(df.repartition(3), src, mode="error")
    replicate_cdf(spark, src, dst, ["k"])

    # keys 0-9 SURVIVE the overwrite (with new values), 10-19 vanish,
    # 50 is new — all inside the one sync window
    new = spark.createDataFrame(
        [(i, f"ow{i}", i * 2.0) for i in range(10)] + [(50, "ow", 50.0)],
        "k LONG, name STRING, v DOUBLE",
    )
    write_delta(new.repartition(2), src, mode="overwrite")
    r = replicate_cdf(spark, src, dst, ["k"])
    assert not r["bootstrapped"]
    assert _rows(spark, dst) == _rows(spark, src)
    got = {
        (row["k"], row["name"])
        for row in DeltaLog(spark, dst).snapshot().to_df().collect()
    }
    assert (3, "ow3") in got and (3, "n3") not in got
    assert (50, "ow") in got and all(k < 10 or k == 50 for k, _ in got)
