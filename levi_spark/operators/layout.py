"""Data-layout maintenance: small-file compaction and space-filling-
curve clustering (z-order and Hilbert).

The reference's README motivates both ("compact the small files ...
make queries on this Delta table run faster", levi README.md:30; the
z-order hint at README.md:58) but implements neither — they live in
delta-rs. Here they are Spark-native OPTIMIZE-style operators on top
of the engine's own writer primitive (``write_delta(replace_paths=...)``:
new files + tombstones for the replaced ones in a single commit).

Scale stance:
* Compaction reads ONLY the files below the size threshold (never the
  whole table), bin-packs them to the target size, and replaces them
  in one commit. Untouched large files keep their stats.
* Every rewrite reads its input through ``Snapshot.rewrite_df``, so on
  a row-tracked table each rewritten row keeps its row id and commit
  version (an OPTIMIZE moves rows, it does not modify them).
* Curve clustering maps each clustering column to a fixed-width rank
  via min/max linear bucketing (two literals from one metadata-cheap
  agg — no global sort, no skew-prone single-partition window), maps
  the bucket tuple onto a space-filling curve, and range-partitions +
  sorts by the curve index. The payoff is file-level min/max locality:
  Delta data skipping (levi's ``skipped_stats`` measures exactly this)
  prunes far more files for multi-column predicates.
* **Z-order** interleaves bucket bits — pure whole-stage-codegen
  expressions. **Hilbert** (Skilling's transform, "Programming the
  Hilbert curve", AIP 2004 — public domain) has strictly better
  locality (every unit curve step is a unit grid step; z-order jumps
  across the domain at power-of-two seams), but its in-place
  bit-by-bit state updates are sequentially dependent: unrolling them
  as nested CASE expressions blows up exponentially in Catalyst (no
  CSE across when-branches). ``hilbert_value`` therefore folds the
  Q-loop at runtime with Catalyst higher-order functions — pure JVM
  expressions, no Python in the OPTIMIZE path. ``_hilbert_index_np``
  is the numpy reference implementation the tests check it against.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from levi_spark.delta.log import DeltaLog
from levi_spark.delta.writer import write_delta


def compact_small_files(
    spark: SparkSession,
    path: str,
    small_bytes: int = 32 * 1024 * 1024,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite every live file smaller than ``small_bytes`` into
    ~``target_bytes`` files; one commit replaces them atomically.

    Returns {"files_removed", "files_added", "version",
    "prev_version"}: ``prev_version`` is the table version the rewrite
    read from. When nothing qualified (fewer than 2 small files is a
    no-op) it returns only the first three keys, with version -1.
    """
    log = DeltaLog(spark, path)
    snap = log.snapshot()
    part_cols = list(snap.metadata.partition_columns)
    small_rows = (
        snap.add_actions()
        .where(F.col("size_bytes") < small_bytes)
        .select("path", "size_bytes")
        .collect()
    )
    if len(small_rows) < 2:
        return {"files_removed": 0, "files_added": 0, "version": -1}
    smalls = [r["path"] for r in small_rows]
    total = sum(r["size_bytes"] for r in small_rows)
    n_out = max(1, math.ceil(total / target_bytes))

    df = snap.rewrite_df(paths=smalls)
    before = log.latest_version()
    version = write_delta(
        df.repartition(n_out),
        path,
        mode="append",
        partition_by=part_cols,
        replace_paths=smalls,
        operation="OPTIMIZE",
        identity_passthrough=True,  # rewrite carries existing ids
    )
    after_files = DeltaLog(spark, path).snapshot().add_actions().count()
    return {
        "files_removed": len(smalls),
        "files_added": after_files
        - (snap.add_actions().count() - len(smalls)),
        "version": version,
        "prev_version": before,
    }


def _bucket_exprs(df: DataFrame, cols: list[str], bits: int) -> list:
    """Per-column rank expressions: each column linearly bucketed to
    [0, 2^bits) between its global min and max (one tiny agg; literals
    broadcast in the plan). Whole-stage-codegen expressions."""
    ranges = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).first()
    buckets = []
    for c in cols:
        lo, hi = ranges[f"__lo_{c}"], ranges[f"__hi_{c}"]
        span = (hi - lo) or 1.0
        b = F.least(
            F.lit((1 << bits) - 1),
            F.floor(
                (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(1 << bits)
            ).cast("long"),
        )
        buckets.append(F.greatest(F.lit(0), b))
    return buckets


def zorder_value(df: DataFrame, cols: list[str], bits: int = 12) -> DataFrame:
    """Append a ``__z`` column: bit-interleaved z-curve index of the
    clustering columns (bucketing per ``_bucket_exprs``). Entirely
    whole-stage-codegen expressions."""
    n = len(cols)
    buckets = _bucket_exprs(df, cols, bits)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for i, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * n + i
            ).cast("long")
    return df.withColumn("__z", z)


def _hilbert_index_np(coords: np.ndarray, bits: int) -> np.ndarray:
    """Hilbert index of each row of ``coords`` ((rows, n) int64 in
    [0, 2^bits)): Skilling's axes->transpose transform, vectorized over
    rows with numpy bit ops, then MSB-first bit interleave."""
    n = coords.shape[1]
    X = [coords[:, i].astype(np.int64).copy() for i in range(n)]
    M = 1 << (bits - 1)
    Q = M
    while Q > 1:  # inverse undo excess work
        P = Q - 1
        for i in range(n):
            mask = (X[i] & Q) != 0
            if i == 0:
                X[0] = np.where(mask, X[0] ^ P, X[0])
            else:
                t = (X[0] ^ X[i]) & P
                X[0], X[i] = (
                    np.where(mask, X[0] ^ P, X[0] ^ t),
                    np.where(mask, X[i], X[i] ^ t),
                )
        Q >>= 1
    for i in range(1, n):  # Gray encode
        X[i] ^= X[i - 1]
    t = np.zeros(coords.shape[0], dtype=np.int64)
    Q = M
    while Q > 1:
        t = np.where((X[n - 1] & Q) != 0, t ^ (Q - 1), t)
        Q >>= 1
    for i in range(n):
        X[i] ^= t
    h = np.zeros(coords.shape[0], dtype=np.int64)
    for k in range(bits - 1, -1, -1):
        for i in range(n):
            h = (h << 1) | ((X[i] >> k) & 1)
    return h


def hilbert_value(df: DataFrame, cols: list[str], bits: int = 8) -> DataFrame:
    """Append a ``__h`` column: Hilbert-curve index of the clustering
    columns (bucketing per ``_bucket_exprs``), computed ENTIRELY with
    JVM-side Catalyst expressions — no Python in the OPTIMIZE path.

    Skilling's sequential bit-by-bit state updates don't unroll into
    nested CASE without exponential blowup, but they don't need to:
    the Q-loop is a runtime fold (``aggregate`` over the literal array
    of Q values — ONE lambda expression evaluated per element), with
    only the inner per-column loop unrolled (n is small). The
    phase outputs (transpose -> Gray -> t -> interleave) are
    let-bound via the ``element_at(transform(array(x), v -> ...), 1)``
    idiom so each phase is computed once per row instead of being
    re-inlined into every consumer. Per-row cost is a few hundred
    primitive long ops inside codegen'd HOFs; cross-checked
    bit-for-bit against :func:`_hilbert_index_np` in tests."""
    n = len(cols)
    if n < 2:
        raise ValueError("hilbert_value needs at least 2 clustering columns")
    buckets = _bucket_exprs(df, cols, bits)
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    init = F.array(*[b.cast("long") for b in buckets])
    # Q = M, M/2, ..., 2 — literal geometric sequence, folded at runtime
    qs = F.array(*[F.lit(1 << e).cast("long") for e in range(bits - 1, 0, -1)])

    def undo(acc, q):
        # one Q round of Skilling's 'inverse undo excess work':
        # X[0] accumulates sequentially, so the per-column loop is
        # unrolled (n-bounded); the Q loop stays a runtime fold
        p = q - one
        xs = [F.element_at(acc, i + 1) for i in range(n)]
        cur0 = F.when(
            xs[0].bitwiseAND(q) != zero, xs[0].bitwiseXOR(p)
        ).otherwise(xs[0])
        outs = []
        for i in range(1, n):
            xi = xs[i]
            mask = xi.bitwiseAND(q) != zero
            t = cur0.bitwiseXOR(xi).bitwiseAND(p)
            outs.append(F.when(mask, xi).otherwise(xi.bitwiseXOR(t)))
            cur0 = F.when(mask, cur0.bitwiseXOR(p)).otherwise(
                cur0.bitwiseXOR(t)
            )
        return F.array(cur0, *outs)

    tx = F.aggregate(qs, init, undo)

    def with_tx(txv):
        xs = [F.element_at(txv, i + 1) for i in range(n)]
        gray = [xs[0]]
        for i in range(1, n):
            gray.append(xs[i].bitwiseXOR(gray[i - 1]))

        def with_gray(g):
            gs = [F.element_at(g, i + 1) for i in range(n)]
            t = F.aggregate(
                qs,
                zero,
                lambda acc, q: F.when(
                    gs[n - 1].bitwiseAND(q) != zero,
                    acc.bitwiseXOR(q - one),
                ).otherwise(acc),
            )

            def with_t(tv):
                finals = [gs[i].bitwiseXOR(tv) for i in range(n)]
                # MSB-first interleave of the transposed coords —
                # same shape as the z-order expression
                h = zero
                for k in range(bits - 1, -1, -1):
                    for i in range(n):
                        h = h + F.shiftleft(
                            F.shiftright(finals[i], k).bitwiseAND(one),
                            k * n + (n - 1 - i),
                        )
                return h

            return F.element_at(F.transform(F.array(t), with_t), 1)

        return F.element_at(
            F.transform(F.array(F.array(*gray)), with_gray), 1
        )

    h = F.element_at(F.transform(F.array(tx), with_tx), 1)
    return df.withColumn("__h", h)


def optimize_hilbert(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 8,
) -> int:
    """Full-table rewrite clustered by the Hilbert curve over ``cols``
    (same commit protocol as ``optimize_zorder``; strictly better
    min/max locality per file). Returns the new version."""
    log = DeltaLog(spark, path)
    snap = log.snapshot()
    df = hilbert_value(snap.rewrite_df(), cols, bits=bits)
    clustered = (
        df.repartitionByRange(n_files, F.col("__h"))
        .sortWithinPartitions("__h")
        .drop("__h")
    )
    return write_delta(
        clustered,
        path,
        mode="overwrite",
        partition_by=list(snap.metadata.partition_columns),
        operation="OPTIMIZE",
    )


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 12,
) -> int:
    """Full-table rewrite clustered by the z-curve over ``cols``:
    range-partition on the z-value (contiguous curve segments per
    file), sort within partitions, commit as an overwrite. Returns the
    new version."""
    log = DeltaLog(spark, path)
    snap = log.snapshot()
    df = zorder_value(snap.rewrite_df(), cols, bits=bits)
    clustered = (
        df.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    return write_delta(
        clustered,
        path,
        mode="overwrite",
        partition_by=list(snap.metadata.partition_columns),
        operation="OPTIMIZE",
    )


def auto_optimize(
    spark: SparkSession,
    path: str,
    small_bytes: int = 32 * 1024 * 1024,
    target_bytes: int = 128 * 1024 * 1024,
    min_small_files: int = 4,
    min_small_fraction: float = 0.5,
) -> dict:
    """Policy-driven maintenance: compact only when fragmentation is
    actually worth a rewrite — at least ``min_small_files`` live files
    under ``small_bytes`` AND they make up ``min_small_fraction`` of
    the live file count. The decision runs entirely on the metadata
    plane (one pass over the live add actions — no data bytes read);
    only a triggered compaction touches data, and it rewrites only the
    qualifying files (:func:`compact_small_files`).

    Returns {"triggered", "n_files", "n_small", "small_fraction",
    "files_removed", "files_added", "version"} so a scheduler can log
    why each table was or wasn't compacted. The auto-OPTIMIZE shape
    every managed lakehouse runs after streaming ingest; designed to
    be called per-table from a maintenance loop.
    """
    snap = DeltaLog(spark, path).snapshot()
    sizes = [r["add"]["size"] for r in snap.live_adds_collected()]
    n_files = len(sizes)
    n_small = sum(1 for s in sizes if s is not None and s < small_bytes)
    frac = (n_small / n_files) if n_files else 0.0
    report = {
        "triggered": False,
        "n_files": n_files,
        "n_small": n_small,
        "small_fraction": round(frac, 4),
        "files_removed": 0,
        "files_added": 0,
        "version": -1,
    }
    if n_small < min_small_files or frac < min_small_fraction:
        return report
    res = compact_small_files(
        spark, path, small_bytes=small_bytes, target_bytes=target_bytes
    )
    report.update(triggered=res["version"] != -1, **res)
    return report


def recluster(spark: SparkSession, path: str) -> int:
    """OPTIMIZE for a liquid-clustered table: each append range-
    clusters only its own batch, so file spans across commits overlap
    until an OPTIMIZE merges them — this rewrites the live data
    range-clustered by the table's ``delta.clustering`` columns,
    making spans GLOBALLY disjoint again. Layout is delegated to the
    writer's ``cluster_by`` path (one repartitionByRange + sorted
    files, every add re-stamped ``clusteringProvider``); row ids are
    preserved like the other OPTIMIZE paths. Returns the new version.

    Scale shape: at real scale this runs per key-range slice (the
    incremental OPTIMIZE liquid clustering specifies) — the full-table
    rewrite here is the gate-scale instance of the same commit shape
    (rewrite + tombstone in one commit)."""
    log = DeltaLog(spark, path)
    snap = log.snapshot()
    cols = snap.clustering_columns()
    if not cols:
        raise ValueError(
            f"{path} carries no delta.clustering domain — nothing to "
            "recluster (use optimize_zorder/optimize_hilbert)"
        )
    return write_delta(
        snap.rewrite_df(),
        path,
        mode="overwrite",
        operation="OPTIMIZE",
        cluster_by=cols,
    )
