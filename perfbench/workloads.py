"""The benchmark's workloads.

Each workload is a closed loop with one client. The runner calls, in
order: ``make_inputs`` (untimed: input data), ``build`` (timed into
``setup_s``), ``expected_answers`` (untimed), ``before(-1)``
(untimed), ``warmup`` (timed into ``setup_s``; an op with ``i = -1``)
and its ``check``, then repeatedly ``before(i)`` (untimed), ``op(i)``
(timed) and ``check(i, result)`` (untimed, counted into ``failed``),
and last ``verify`` (untimed; one pass/fail per checked output).

An op is one round of fixed steps; ``op`` returns the time of each step
under ``"steps"``, so the runner can take each step's median over the
run's rounds. The input tables are the same in every run; the seed
picks the op arguments (which rows repeat or change, filter values,
query order).

There are two workloads: ``levi_tables`` runs every levi layer (the
Delta log, writer and checkpoint, the metadata, dedup, SCD2 and merge
operators) and ``pipeline_queries`` runs the query layer with no Delta
log at all, so a change to one side should leave the other unchanged.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import deltacheck


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


class _Steps(dict):
    """Step name -> seconds, filled by ``with steps("name"): ...``."""

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        yield
        self[name] = time.perf_counter() - t0


class LeviTables:
    """Both levi planes on one fact/dimension pair. One op is a
    maintenance round on fresh copies of the two tables (append with
    repeated keys, drop_duplicates, SCD2 upsert, MERGE upsert) followed
    by the five metadata-plane questions, each on a freshly opened
    handle of a table the round just wrote: the partition questions
    (``updated_partitions``, ``pruned_scan``) on the customer dimension,
    partitioned by segment, the others on lineitem. Lineitem is not
    partitioned because ``drop_duplicates`` fails on partitioned tables."""

    name = "levi_tables"
    sf = 0.01
    # Set-up writes versions 0..8; a round then commits 9 (append),
    # 10 (drop_duplicates; the default interval of 10 checkpoints it)
    # and 11 (merge), so the metadata calls replay a checkpoint plus a
    # JSON tail.
    base_commits = 9
    # Late duplicates and corrections hit the newest orders only (the
    # last two key ranges), so min/max stats on l_orderkey still skip
    # the older files after the round.
    recent_ranges = 2
    key = ["l_orderkey", "l_linenumber"]
    kinds = ("latest_version", "skipped_stats", "delta_file_sizes",
             "updated_partitions", "pruned_scan")

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.pristine = os.path.join(root, "pristine")
        self.work = os.path.join(root, "work")
        self.inputs = os.path.join(root, "inputs")
        self.lineitem = os.path.join(self.work, "lineitem")
        self.customer = os.path.join(self.work, "customer")
        self.input_bytes = 0
        self.round_writes: list[dict] = []

    # -- inputs ------------------------------------------------------------

    def make_inputs(self) -> None:
        tabs = datagen.tables(self.sf, ("lineitem", "customer"))
        self.base = tabs["lineitem"]
        self.n_orders = int(self.base.column("l_orderkey").to_numpy().max()) + 1
        cust = tabs["customer"]
        n = cust.num_rows
        self.dim = pa.table({
            "c_custkey": cust.column("c_custkey"),
            "c_mktsegment": cust.column("c_mktsegment"),
            "c_acctbal": cust.column("c_acctbal"),
            "is_current": pa.array([True] * n),
            "effective_time": pa.array([dt.datetime(2020, 1, 1)] * n, pa.timestamp("us")),
            "end_time": pa.nulls(n, pa.timestamp("us")),
        })
        self.fingerprint = datagen.write_tables(
            {"lineitem": self.base, "dim": self.dim}, self.inputs)

    def _round_inputs(self, i: int) -> dict:
        """Seeded batches for round ``i`` and the row counts they imply."""
        rng = _rng(self.seed, 3, i + 1)  # the warm-up round is i = -1
        n_base, n_dim = self.base.num_rows, self.dim.num_rows
        n = self.base_commits
        recent_lo = (n - self.recent_ranges) * self.n_orders // n
        recent = np.flatnonzero(self.base.column("l_orderkey").to_numpy() >= recent_lo)
        d = os.path.join(self.inputs, f"round{i}")
        os.makedirs(d, exist_ok=True)
        # append: new orders plus exact copies of recent rows
        new_orders = np.arange(self.n_orders, self.n_orders + self.n_orders // 30)
        fresh = datagen.lineitem_for_orders(rng, new_orders)
        dups = self.base.take(rng.choice(recent, n_base // 100, replace=False))
        batch = pa.concat_tables([fresh, dups])
        # merge: quantity updates on recent keys plus lines of further new orders
        upd = self.base.take(rng.choice(recent, n_base // 50, replace=False))
        upd = upd.set_column(
            upd.column_names.index("l_quantity"), "l_quantity",
            pa.array(rng.integers(1, 51, upd.num_rows).astype(np.float64)),
        )
        more = new_orders[-1] + 1 + np.arange(self.n_orders // 60)
        inserted = datagen.lineitem_for_orders(rng, more)
        source = pa.concat_tables([upd, inserted])
        # SCD2: changed, unchanged and new customers
        pick = rng.choice(n_dim, n_dim // 10, replace=False)
        n_changed = len(pick) * 2 // 3
        old = self.dim.take(pick)
        seg = old.column("c_mktsegment").to_pylist()
        for k in range(n_changed):
            seg[k] = datagen.SEGMENTS[(datagen.SEGMENTS.index(seg[k]) + 1) % 5]
        n_new = n_dim // 40
        eff = dt.datetime(2024, 1, 1) + dt.timedelta(days=i)
        updates = pa.table({
            "c_custkey": pa.array(np.concatenate([old.column("c_custkey").to_numpy(),
                                                  np.arange(n_dim, n_dim + n_new)]), pa.int64()),
            "c_mktsegment": pa.array(seg + list(rng.choice(datagen.SEGMENTS, n_new))),
            "c_acctbal": pa.array(np.concatenate([old.column("c_acctbal").to_numpy(),
                                                  datagen.money(rng, 0, 9999, n_new)])),
            "effective_time": pa.array([eff] * (len(pick) + n_new), pa.timestamp("us")),
        })
        paths = {}
        for name, t in (("batch", batch), ("source", source), ("updates", updates)):
            paths[name] = os.path.join(d, f"{name}.parquet")
            pq.write_table(t, paths[name])
        return {
            "paths": paths,
            "bytes": sum(os.path.getsize(p) for p in paths.values()),
            "lineitem_rows": n_base + fresh.num_rows + inserted.num_rows,
            "dim_rows": n_dim + n_changed + n_new,
            "dim_keys": n_dim + n_new,
        }

    # -- setup ---------------------------------------------------------------

    def build(self) -> None:
        from pyspark.sql import functions as F

        from levi_spark.delta.writer import write_delta

        li = self.spark.read.parquet(os.path.join(self.inputs, "lineitem.parquet"))
        n = self.base_commits
        for k in range(n):
            lo, hi = k * self.n_orders // n, (k + 1) * self.n_orders // n
            write_delta(
                li.where((F.col("l_orderkey") >= lo) & (F.col("l_orderkey") < hi)),
                os.path.join(self.pristine, "lineitem"),
                mode="append",
            )
        write_delta(
            self.spark.read.parquet(os.path.join(self.inputs, "dim.parquet")),
            os.path.join(self.pristine, "customer"),
            mode="append",
            partition_by=["c_mktsegment"],
        )

    def expected_answers(self) -> None:
        """Seeded arguments of the metadata calls. Their answers depend
        on the files each round writes, so ``check`` computes them from
        the table after the round, without the engine."""
        self.rounds: dict[int, dict] = {}
        pristine = os.path.join(self.pristine, "lineitem")
        self.base_version = max(deltacheck.commits(pristine))
        rng = _rng(self.seed, 1)
        keys = [int(k) for k in rng.integers(0, self.n_orders, 6)]
        ops = ["<", "<=", ">", ">=", "=", "<"]
        skip_filters = [[("l_orderkey", op, k)] for op, k in zip(ops, keys)]
        skip_filters.append([("l_orderkey", ">=", keys[0]), ("l_quantity", "<", 10.0)])
        segs = rng.choice(datagen.SEGMENTS, 6)
        cust_keys = rng.integers(0, self.dim.num_rows, 6)
        scan_filters = [
            [("c_mktsegment", "=", str(s)), ("c_custkey", "<", int(k))]
            for s, k in zip(segs, cust_keys)
        ]
        # the customer table has one set-up commit: windows over all
        # files, over the files the round adds, and over the set-up ones
        times = [a["modificationTime"] for a in
                 deltacheck.live_files(os.path.join(self.pristine, "customer")).values()]
        lo, hi = min(times), max(times) + 1
        windows = [(lo, None), (hi, None), (lo, hi)]
        self.call_args = {
            "latest_version": [()],
            "skipped_stats": [(f,) for f in skip_filters],
            "delta_file_sizes": [()],
            "updated_partitions": windows,
            "pruned_scan": [(f,) for f in scan_filters],
        }

    def warmup(self) -> dict:
        return self.op(-1)

    # -- one round -------------------------------------------------------------

    def before(self, i: int) -> None:
        if os.path.exists(self.work):
            shutil.rmtree(self.work)
        shutil.copytree(self.pristine, self.work)
        self.rounds[i] = self._round_inputs(i)

    def _args(self, kind: str, i: int) -> tuple:
        cases = self.call_args[kind]
        return cases[(i + 1) % len(cases)]

    def op(self, i: int) -> dict:
        from levi_spark.delta.table import LeviTable
        from levi_spark.operators import metadata as M
        from levi_spark.operators.dedup import drop_duplicates
        from levi_spark.operators.merge import merge
        from levi_spark.operators.scd import type_2_scd_upsert

        spark, paths = self.spark, self.rounds[i]["paths"]
        steps = _Steps()
        with steps("append"):
            li = LeviTable.for_path(spark, self.lineitem)
            li.append(spark.read.parquet(paths["batch"]))
        with steps("drop_duplicates"):
            dedup = drop_duplicates(li, self.key)
        with steps("type_2_scd_upsert"):
            scd = type_2_scd_upsert(
                LeviTable.for_path(spark, self.customer), spark.read.parquet(paths["updates"]),
                "c_custkey", ["c_mktsegment", "c_acctbal"], "is_current", "effective_time",
                "end_time",
            )
        cols = self.base.column_names
        with steps("merge"):
            up = (
                merge(li, spark.read.parquet(paths["source"]),
                      "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber")
                .when_matched_update(set={"l_quantity": "s.l_quantity"})
                .when_not_matched_insert(values={c: f"s.{c}" for c in cols})
                .execute()
            )
        meta = []
        for kind in self.kinds:
            args = self._args(kind, i)
            with steps(kind):
                table = LeviTable.for_path(spark, self._meta_table(kind))
                if kind == "latest_version":
                    meta.append(M.latest_version(table.log))
                elif kind == "pruned_scan":
                    meta.append(M.pruned_scan(table.snapshot(), *args).count())
                else:
                    meta.append(getattr(M, kind)(table.snapshot(), *args))
        return {"steps": dict(steps), "dedup": dedup, "scd": scd, "merge": up, "meta": meta}

    def check(self, i: int, result: dict) -> bool:
        exp = self.rounds.pop(i)
        shutil.rmtree(os.path.join(self.inputs, f"round{i}"))
        li, dim = self.lineitem, self.customer
        rows, keys = deltacheck.query(
            li, "SELECT count(*), count(DISTINCT (l_orderkey, l_linenumber)) FROM t")[0]
        dim_rows, dim_keys, bad_keys = deltacheck.query(dim, """
            SELECT sum(n), count(*), count(*) FILTER (WHERE cur <> 1) FROM (
              SELECT c_custkey, count(*) AS n,
                     count(*) FILTER (WHERE is_current) AS cur
              FROM t GROUP BY c_custkey)""")[0]
        if i >= 0:
            self.input_bytes += exp["bytes"]
            self.round_writes.append(self._writes(result))
        return (
            rows == keys == exp["lineitem_rows"]
            and dim_rows == exp["dim_rows"]
            and dim_keys == exp["dim_keys"]
            and bad_keys == 0
            and all(self._meta_ok(k, self._args(k, i), got)
                    for k, got in zip(self.kinds, result["meta"]))
        )

    def _meta_table(self, kind: str) -> str:
        return self.customer if kind in ("updated_partitions", "pruned_scan") else self.lineitem

    def _meta_ok(self, kind: str, args: tuple, got) -> bool:
        t = self._meta_table(kind)
        if kind == "latest_version":
            return got == max(deltacheck.commits(t))
        if kind == "skipped_stats":
            return got == deltacheck.expected_skipped(t, *args)
        if kind == "delta_file_sizes":
            return got == deltacheck.expected_file_sizes(t)
        if kind == "updated_partitions":
            return deltacheck.partitions_match(got, deltacheck.expected_updated_partitions(t, *args))
        return got == deltacheck.expected_count(t, *args)

    def _writes(self, result: dict) -> dict:
        """Commits, files and bytes this round added, read from the logs,
        and the share of each rewriting op's table it rewrote."""
        out = {"commits": 0, "files": 0, "bytes": 0, "checkpoints": 0}
        for table, after in ((self.lineitem, self.base_version), (self.customer, 0)):
            for v, actions in deltacheck.commits(table).items():
                if v > after:
                    adds = [a["add"] for a in actions if "add" in a]
                    out["commits"] += 1
                    out["files"] += len(adds)
                    out["bytes"] += sum(a["size"] for a in adds)
            out["checkpoints"] += sum(1 for v in deltacheck.checkpoints(table) if v > after)
        for name, table in (("dedup", self.lineitem), ("merge", self.lineitem),
                            ("scd", self.customer)):
            res = result[name]
            before = len(deltacheck.live_files(table, upto=res["version"] - 1))
            out[f"{name}_rewritten_ratio"] = res["files_rewritten"] / before
        return out

    def verify(self) -> list[bool]:
        return []

    def extra(self) -> dict:
        added = sum(w["bytes"] for w in self.round_writes)
        return {"write_amp": added / max(1, self.input_bytes), "fingerprint": self.fingerprint}


# One query per layer the data plane exercises: TPC-H aggregation
# (queries), text and sketch functions, the brute-force cosine kernel
# and a streaming drain. Sized so a pass takes a few seconds on four
# cores; the registry's other queries are left out to fit the run.
PIPELINE_QUERIES = (
    "q1_pricing_summary",
    "doc_quality_scores",
    "ann_cosine_topk",
    "hll_distinct_users",
    "stream_hourly_rollup",
)
PIPELINE_TABLES = ("lineitem", "documents", "embeddings", "events")


class PipelineQueries:
    """Data-plane read path: one op is a pass over registry queries in a
    seeded order, each written to the noop sink. The warm-up pass
    collects every query instead, and ``verify`` compares those results
    with the DuckDB oracle."""

    name = "pipeline_queries"
    sf = 0.01

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.data = os.path.join(root, "sf")
        self.collected: dict[str, tuple] = {}
        self.mismatches: list[str] = []
        # context manager around each query; the runner sets it to its span
        self.on_query = lambda name: contextlib.nullcontext()

    def make_inputs(self) -> None:
        self.fingerprint = datagen.write_tables(
            datagen.tables(self.sf, PIPELINE_TABLES), self.data)

    def build(self) -> None:
        pass

    def expected_answers(self) -> None:
        from levi_spark.queries import QUERIES

        con = duckdb.connect()
        for t in PIPELINE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        self.expected = {}
        for q in PIPELINE_QUERIES:
            rel = con.execute(QUERIES[q][1])
            self.expected[q] = ([d[0] for d in rel.description], rel.fetchall())
        con.close()

    def _isolate(self) -> None:
        self.spark.catalog.clearCache()
        for v in self.spark.catalog.listTables():
            if v.name.startswith("levi_stream_"):
                self.spark.catalog.dropTempView(v.name)

    def _order(self, i: int) -> list[str]:
        return [PIPELINE_QUERIES[k] for k in
                _rng(self.seed, 4, i + 1).permutation(len(PIPELINE_QUERIES))]

    def warmup(self) -> dict:
        from levi_spark.queries import QUERIES

        steps = _Steps()
        for q in self._order(-1):
            with steps(q):
                df = QUERIES[q][0](self.spark, self.data)
                self.collected[q] = ([tuple(r) for r in df.collect()], df.columns)
            self._isolate()
        return {"steps": dict(steps)}

    def verify(self) -> list[bool]:
        """Every warm-up result against its DuckDB oracle, compared the
        way tools/oracle_check.py compares."""
        for q in PIPELINE_QUERIES:
            rows, cols = self.collected[q]
            ocols, orows = self.expected[q]
            if sorted(cols) != sorted(ocols) or _frame_key(rows, cols) != _frame_key(orows, ocols):
                self.mismatches.append(q)
        return [q not in self.mismatches for q in PIPELINE_QUERIES]

    def before(self, i: int) -> None:
        pass

    def op(self, i: int) -> dict:
        from levi_spark.queries import QUERIES

        steps = _Steps()
        for q in self._order(i):
            with self.on_query(q), steps(q):
                QUERIES[q][0](self.spark, self.data).write.mode("overwrite").format("noop").save()
            self._isolate()
        return {"steps": dict(steps)}

    def check(self, i: int, result: dict) -> bool:
        return sorted(result["steps"]) == sorted(PIPELINE_QUERIES)

    def extra(self) -> dict:
        return {"oracle_mismatches": self.mismatches, "fingerprint": self.fingerprint}


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.10g}"
    return str(v)


def _frame_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (LeviTables, PipelineQueries)}
