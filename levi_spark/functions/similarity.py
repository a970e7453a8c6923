"""Vector-similarity primitives over ``array<float>`` embedding columns.

JVM-side higher-order functions (``transform`` / ``aggregate``) — the
dot product and norms run inside whole-stage codegen with a fixed
left-fold order, which makes the doubles bit-reproducible and therefore
oracle-checkable against DuckDB's ``list_inner_product`` (same
sequential order). No Python boundary in the hot path.

Scale path (100 TB / billions of vectors): brute-force top-k is the
correctness baseline; ``lsh_bucket_candidates`` prunes the cross join
to same-bucket pairs (random-hyperplane signs), turning the O(N·Q)
scan into a bucketed join that shuffles on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Hard cap on the driver-side collect of the query frame in
# brute_force_topk: top-k serving queries are metadata-sized by
# design (the r12 rewrite collected the same frame the old plan
# broadcast); past this the collect raises instead of OOMing the
# driver silently.
_MAX_QUERY_ROWS = 100_000


def as_double_vec(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """dot/(sqrt(na)*sqrt(nb)) — op order fixed to match the oracle
    formula exactly."""
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def sub_l2sq(a: Column, b: Column, start: int, length: int) -> Column:
    """Squared L2 distance between aligned subvectors, via the
    inner-product identity ip(a,a) - 2·ip(a,b) + ip(b,b) — three
    sequential folds, the exact arithmetic DuckDB's
    ``list_inner_product`` performs, so PQ cell assignment is
    bit-reproducible cross-engine. ``start`` is 1-based (matches both
    Spark ``slice`` and DuckDB ``list_slice``)."""
    sa = F.slice(a, start, length)
    sb = F.slice(b, start, length)
    return dot(sa, sa) - F.lit(2.0) * dot(sa, sb) + dot(sb, sb)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Broadcast the (small) query side so the candidate scan never
    shuffles; rank with a window keyed on the query id. Deterministic:
    ties broken by neighbor id.

    Returns (query_id, neighbor_id, score).

    Contract (r13, asserted): both id columns must be integral (the
    numpy kernel and the declared long output schema hardcode int64),
    and the query side must stay a metadata-sized frame — the collect
    below transfers at most ``_MAX_QUERY_ROWS`` rows and raises loudly
    past that instead of silently pulling an unbounded frame to the
    driver. A zero-norm vector scores NULL (the JVM Divide's
    divide-by-zero result, which sorts LAST under score desc), never
    NaN (which would sort first).
    """
    for side, col, df_ in (("query", q_id, queries), ("candidate", c_id, candidates)):
        dt = df_.schema[col].dataType
        if not isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise TypeError(
                f"brute_force_topk: {side} id column {col!r} must be "
                f"integral, got {dt.simpleString()}"
            )
    q = queries.select(
        F.col(q_id).alias("query_id"), as_double_vec(F.col(vec_col)).alias("__qv")
    )
    c = candidates.select(
        F.col(c_id).alias("neighbor_id"), as_double_vec(F.col(vec_col)).alias("__cv")
    )
    # r12 (guide §4.2): the scoring stage used to be a broadcast cross
    # join evaluating an INTERPRETED higher-order-function cosine per
    # (candidate, query) pair — HOF folds never enter whole-stage
    # codegen. The (small) query side is now a driver-side collect (the
    # same bounded frame the broadcast shipped) and all pair scores
    # come from one numpy map-side pass. The dot products accumulate
    # SEQUENTIALLY over dimensions (acc starts 0.0, adds x_d*y_d in
    # ascending d) — the identical IEEE op sequence as the JVM
    # left-fold — so every score is bit-exact with the old plan and
    # DuckDB's list_inner_product. Rounding and ranking stay in the
    # JVM, unchanged.
    q_rows = q.limit(_MAX_QUERY_ROWS + 1).collect()
    if len(q_rows) > _MAX_QUERY_ROWS:
        raise ValueError(
            f"brute_force_topk: query side exceeds {_MAX_QUERY_ROWS} "
            "rows — this path driver-collects the query frame; pass a "
            "bounded query set or bucket the candidates instead"
        )
    qid_list = [int(r["query_id"]) for r in q_rows]
    qv_list = [list(r["__qv"]) for r in q_rows]

    def _score(batches):
        import numpy as np
        import pandas as pd

        if not qid_list:
            return
        Qm = np.asarray(qv_list, dtype=np.float64)
        qids = np.asarray(qid_list, dtype=np.int64)

        def seq_matdot(A, B):
            acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
            for d in range(A.shape[1]):
                acc += A[:, d, None] * B[None, :, d]
            return acc

        def seq_sqnorm(A):
            acc = np.zeros(A.shape[0], dtype=np.float64)
            for d in range(A.shape[1]):
                acc += A[:, d] * A[:, d]
            return acc

        qn = np.sqrt(seq_sqnorm(Qm))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["__cv"]])
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            nv = np.sqrt(seq_sqnorm(V))
            # cosine(qv, cv) = dot(q,c) / (sqrt(dot(q,q)) * sqrt(dot(c,c)))
            denom = qn[None, :] * nv[:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = seq_matdot(V, Qm) / denom
            nq = len(qids)
            flat_q = np.repeat(qids[None, :], len(ids), axis=0).ravel()
            flat_n = np.repeat(ids[:, None], nq, axis=1).ravel()
            flat_r = raw.ravel()
            keep = flat_n != flat_q
            # zero-norm guard: the JVM Divide yields NULL on a zero
            # divisor (sorted last under desc) — numpy yields NaN
            # (sorted FIRST by Spark) — so mask those to real nulls
            scores = pd.array(flat_r[keep], dtype="Float64")
            zmask = denom.ravel()[keep] == 0.0
            if zmask.any():
                scores[zmask] = pd.NA
            yield pd.DataFrame(
                {
                    "query_id": flat_q[keep],
                    "neighbor_id": flat_n[keep],
                    "__raw": scores,
                }
            )

    scored = c.mapInPandas(
        _score, "query_id long, neighbor_id long, __raw double"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("__raw"), round_to).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "score")
    )


def lsh_bucket_candidates(
    df: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH bucketing: sign pattern of ``n_planes``
    pseudo-random projections → one bucket id per vector. Same-bucket
    vectors are near-duplicate candidates; the downstream join shuffles
    on the bucket key instead of cross-joining the world.

    The "random" plane components are a deterministic hash of
    (plane, dimension) so every executor — and every engine — derives
    the identical planes without broadcasting state.
    """
    v = as_double_vec(F.col(vec_col))
    dims = F.size(F.col(vec_col))
    sig_bits = []
    for p in range(n_planes):
        # plane component for dim i: xxhash64(seed, p, i) scaled to [-1, 1]
        comp = lambda i, p=p: (
            F.xxhash64(F.lit(seed), F.lit(p), i).cast("double") / F.lit(float(1 << 63))
        )
        proj = F.aggregate(
            F.zip_with(v, F.sequence(F.lit(0), dims - 1), lambda x, i: x * comp(i)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig_bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << p))
    bucket = sig_bits[0]
    for b in sig_bits[1:]:
        bucket = bucket + b
    return df.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))
