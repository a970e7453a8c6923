"""Input generator for the benchmark.

Writes the tables the benchmark reads (one parquet file per table, the
column sets of ``levi_spark.sources.registry.TABLE_DDL``) from a numpy
generator with a fixed seed, so every run reads byte-identical inputs
and the run's own seed only picks op arguments and query order. Row
counts follow the ratios of the repository's synthetic TPC-H-ish data:
``sf`` 0.01 gives 15,000 orders and about 60,000 lineitem rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small big customer query "
    "order filter group vector stream"
).split()

ORDER_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 24 * 3600 * 1_000_000
N_PART, N_SUPP = 2000, 100


def money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_for_orders(rng: np.random.Generator, orderkeys: np.ndarray) -> pa.Table:
    """1-7 lines per order with unique (l_orderkey, l_linenumber)."""
    odate = ORDER_START + rng.integers(0, ORDER_DAYS, len(orderkeys)).astype("timedelta64[D]")
    per = rng.integers(1, 8, len(orderkeys))
    okey = np.repeat(orderkeys, per)
    odate = np.repeat(odate, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    linenumber = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = odate + rng.integers(1, 122, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n)),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Token soup over a small vocabulary; about a tenth of the docs are
    exact copies and another tenth one-token edits of earlier docs, so
    exact and near-duplicate detection both have work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.1:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.2:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(toks))
        else:
            toks = rng.choice(VOCAB, int(rng.integers(8, 90)))
            texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n)
    vecs = (centers[label] + rng.normal(0, 0.6, (n, dim))) / np.sqrt(dim)
    flat = pa.array(vecs.astype(np.float32).reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    ts = EVENT_START + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n // 66), n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(money(rng, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def tables(sf: float, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """The named tables at scale ``sf``, each from its own stream of the
    fixed seed, so a table does not depend on which others are made."""
    n_orders = max(200, int(1_500_000 * sf))
    make = {
        "lineitem": lambda rng: lineitem_for_orders(rng, np.arange(n_orders)),
        "customer": lambda rng: _customer(rng, max(50, n_orders // 10)),
        "events": lambda rng: _events(rng, max(500, n_orders * 2 // 3)),
        "documents": lambda rng: _documents(rng, max(100, n_orders // 30)),
        "embeddings": lambda rng: _embeddings(rng, max(100, n_orders // 30)),
    }
    return {
        name: make[name](np.random.default_rng([DATA_SEED, k]))
        for k, name in enumerate(sorted(make))
        if name in names
    }


def write_tables(tabs: dict[str, pa.Table], out_dir: str) -> str:
    """Write one parquet file per table; returns a hash of the files'
    bytes (the input fingerprint)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tabs):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tabs[name], path)
        with open(path, "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()[:16]
