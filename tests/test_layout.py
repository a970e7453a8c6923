"""Layout-maintenance tests: small-file compaction and z-order
clustering over the engine's own Delta writer/reader."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta
from levi_spark.operators.layout import (
    _hilbert_index_np,
    auto_optimize,
    compact_small_files,
    hilbert_value,
    optimize_hilbert,
    optimize_zorder,
    zorder_value,
)


@pytest.fixture()
def fragmented_table(spark, tmp_path):
    """Table written as many tiny files (3 appends x 8 partitions)."""
    path = str(tmp_path / "frag")
    for i in range(3):
        df = spark.range(i * 1000, (i + 1) * 1000).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        )
        write_delta(df.repartition(8), path, mode="append" if i else "error")
    return path


def test_compaction_reduces_files_preserves_content(spark, fragmented_table):
    log = DeltaLog(spark, fragmented_table)
    before_files = log.snapshot().add_actions().count()
    before_rows = sorted(r.id for r in log.snapshot().to_df().collect())
    assert before_files == 24

    res = compact_small_files(spark, fragmented_table, small_bytes=10**9,
                              target_bytes=10**9)
    assert res["files_removed"] == 24
    snap = DeltaLog(spark, fragmented_table).snapshot()
    after_files = snap.add_actions().count()
    assert after_files < before_files
    assert sorted(r.id for r in snap.to_df().collect()) == before_rows
    assert snap.version == res["version"]


def test_compaction_noop_when_nothing_small(spark, fragmented_table):
    compact_small_files(spark, fragmented_table, small_bytes=10**9)
    res2 = compact_small_files(spark, fragmented_table, small_bytes=1)
    assert res2 == {"files_removed": 0, "files_added": 0, "version": -1}


@pytest.mark.parametrize("op", [compact_small_files, auto_optimize])
def test_compaction_on_file_uri_table(spark, tmp_path, op):
    path = str(tmp_path / "uri")
    write_delta(spark.range(400).repartition(4), path, mode="error")
    assert DeltaLog(spark, path).snapshot().add_actions().count() == 4

    res = op(spark, "file://" + path, small_bytes=10**9, target_bytes=10**9)
    assert (res["files_removed"], res["files_added"]) == (4, 1)
    snap = DeltaLog(spark, path).snapshot()
    assert snap.version == res["version"] == 1
    assert sorted(r.id for r in snap.to_df().collect()) == list(range(400))


def test_zorder_value_interleaves(spark):
    df = spark.createDataFrame(
        [(0, 0), (0, 15), (15, 0), (15, 15)], "x INT, y INT"
    )
    out = {(r.x, r.y): r["__z"] for r in zorder_value(df, ["x", "y"], bits=4).collect()}
    # corners of a 16x16 grid at 4 bits: (0,0)->0, (15,15)->all ones
    assert out[(0, 0)] == 0
    assert out[(15, 15)] == (1 << 8) - 1
    # x occupies even bit positions, y odd (interleave order [x, y])
    assert out[(15, 0)] == 0b01010101
    assert out[(0, 15)] == 0b10101010


def test_hilbert_is_a_true_hilbert_curve():
    """Exhaustive 2-D check at 4 bits: the index is a bijection onto
    [0, 256) and every consecutive pair of indices is a UNIT grid step
    — the defining Hilbert property z-order lacks (z jumps across the
    domain at power-of-two seams)."""
    import numpy as np

    n = 16
    cells = np.array([(x, y) for x in range(n) for y in range(n)], dtype=np.int64)
    h = _hilbert_index_np(cells, bits=4)
    assert sorted(h.tolist()) == list(range(n * n))  # bijection
    order = cells[np.argsort(h)]
    steps = np.abs(np.diff(order, axis=0)).sum(axis=1)
    assert (steps == 1).all()  # every curve step is grid-adjacent


def test_hilbert_3d_bijection():
    import numpy as np

    cells = np.array(
        [(x, y, z) for x in range(8) for y in range(8) for z in range(8)],
        dtype=np.int64,
    )
    h = _hilbert_index_np(cells, bits=3)
    assert sorted(h.tolist()) == list(range(8 * 8 * 8))
    order = cells[np.argsort(h)]
    assert (np.abs(np.diff(order, axis=0)).sum(axis=1) == 1).all()


def test_hilbert_value_dataframe_path(spark):
    """The DataFrame surface buckets [0,15] bijectively at 4 bits, so
    the full 16x16 grid must reproduce the exhaustive numpy curve."""
    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x INT, y INT"
    )
    rows = hilbert_value(df, ["x", "y"], bits=4).collect()
    got = {(r.x, r.y): r["__h"] for r in rows}
    assert sorted(got.values()) == list(range(256))
    import numpy as np

    cells = np.array(sorted(got), dtype=np.int64)
    expect = _hilbert_index_np(cells, bits=4)
    assert [got[tuple(c)] for c in cells.tolist()] == expect.tolist()


def test_hilbert_locality_beats_zorder(spark, tmp_path):
    """Same shuffled grid, same file count: Hilbert's per-file min/max
    boxes must be at least as tight as z-order's on the summed span —
    the measurable payoff of unit-step locality."""
    n = 64

    def spans(path):
        snap = DeltaLog(spark, path).snapshot()
        r = (
            snap.add_actions_flat()
            .agg(
                F.avg(F.col("`max.x`") - F.col("`min.x`")).alias("sx"),
                F.avg(F.col("`max.y`") - F.col("`min.y`")).alias("sy"),
            )
            .first()
        )
        return r.sx + r.sy

    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    shuffled = grid.orderBy(F.md5(F.concat_ws(",", "x", "y")))
    pz, ph = str(tmp_path / "z"), str(tmp_path / "h")
    write_delta(shuffled.repartition(8), pz, mode="error")
    write_delta(shuffled.repartition(8), ph, mode="error")
    optimize_zorder(spark, pz, ["x", "y"], n_files=8, bits=6)
    optimize_hilbert(spark, ph, ["x", "y"], n_files=8, bits=6)
    z_span, h_span = spans(pz), spans(ph)
    assert h_span <= z_span, (h_span, z_span)
    snap = DeltaLog(spark, ph).snapshot()
    assert snap.to_df().count() == n * n


def test_zorder_improves_minmax_locality(spark, tmp_path):
    """After z-ordering a shuffled 2-D grid, per-file min/max boxes for
    BOTH dimensions must be tighter than the random layout — i.e. the
    average per-file (max-min) span shrinks, which is what Delta data
    skipping prunes on."""
    path = str(tmp_path / "zt")
    n = 64
    grid = spark.range(n * n).select(
        (F.col("id") % n).alias("x"), (F.col("id") / n).cast("long").alias("y")
    )
    shuffled = grid.orderBy(F.md5(F.concat_ws(",", "x", "y")))  # deterministic shuffle
    write_delta(shuffled.repartition(8), path, mode="error")

    def spans(path):
        snap = DeltaLog(spark, path).snapshot()
        flat = snap.add_actions_flat()
        r = flat.agg(
            F.avg(F.col("`max.x`") - F.col("`min.x`")).alias("sx"),
            F.avg(F.col("`max.y`") - F.col("`min.y`")).alias("sy"),
        ).first()
        return r.sx, r.sy

    sx0, sy0 = spans(path)
    v = optimize_zorder(spark, path, ["x", "y"], n_files=8, bits=6)
    sx1, sy1 = spans(path)
    assert v == 1
    # random layout: every file spans ~the whole domain. z-order: both
    # dims shrink (vs a plain sort by x which would leave y full-width)
    assert sx1 < sx0 * 0.8 and sy1 < sy0 * 0.8, (sx0, sy0, sx1, sy1)
    # content preserved
    snap = DeltaLog(spark, path).snapshot()
    assert snap.to_df().count() == n * n


def test_auto_optimize_policy(spark, tmp_path):
    """auto_optimize compacts only past the fragmentation thresholds,
    and its decision report says why."""
    from levi_spark.delta.log import DeltaLog
    from levi_spark.delta.writer import write_delta
    from levi_spark.operators.layout import auto_optimize

    path = str(tmp_path / "t")
    write_delta(
        spark.range(2000).selectExpr("id AS k", "id * 2 AS v").repartition(8),
        path, mode="error",
    )
    # 8 tiny files, 100% small -> triggers
    r = auto_optimize(spark, path, small_bytes=10**9, target_bytes=10**9)
    assert r["triggered"] and r["files_removed"] == 8 and r["files_added"] == 1
    before = sorted(
        map(tuple, DeltaLog(spark, path).snapshot().to_df().collect())
    )

    # now 1 big file: below min_small_files -> no-op, content unchanged
    r2 = auto_optimize(spark, path, small_bytes=10**9)
    assert not r2["triggered"] and r2["version"] == -1 and r2["n_files"] == 1
    assert sorted(
        map(tuple, DeltaLog(spark, path).snapshot().to_df().collect())
    ) == before

    # small files exist but below the fraction threshold -> no-op
    write_delta(
        spark.range(5).selectExpr("id AS k", "id AS v"),
        path, mode="append",
    )
    r3 = auto_optimize(
        spark, path, small_bytes=10, min_small_files=1, min_small_fraction=0.9
    )
    assert not r3["triggered"] and r3["n_small"] == 0


def test_hilbert_value_is_jvm_only(spark):
    """Round-5 ask: no Python evaluation node anywhere in the OPTIMIZE
    path — the Hilbert index is Catalyst HOF expressions, so the plan
    must contain no Arrow/Batch Python eval operators."""
    import numpy as np

    df = spark.range(64).selectExpr("id % 8 AS x", "id DIV 8 AS y")
    plan = (
        hilbert_value(df, ["x", "y"], bits=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan, plan


def test_hilbert_value_matches_numpy_3d(spark):
    """Bit-for-bit parity of the JVM expression path with the numpy
    reference transform, on a full 3-D grid."""
    import numpy as np

    side = 8  # bits=3 per axis
    rows = [
        (i, i % side, (i // side) % side, i // (side * side))
        for i in range(side**3)
    ]
    df = spark.createDataFrame(rows, ["i", "x", "y", "z"])
    got = {
        r["i"]: r["__h"]
        for r in hilbert_value(df, ["x", "y", "z"], bits=3).collect()
    }
    cells = np.array([(x, y, z) for _i, x, y, z in rows], dtype=np.int64)
    expect = _hilbert_index_np(cells, bits=3)
    assert [got[i] for i, *_ in rows] == expect.tolist()
    # a Hilbert index over the full grid is a bijection
    assert sorted(got.values()) == list(range(side**3))


def test_hilbert_value_needs_two_columns(spark):
    import pytest

    df = spark.range(4).selectExpr("id AS x")
    with pytest.raises(ValueError, match="at least 2"):
        hilbert_value(df, ["x"], bits=3)
