"""Independent reading of a Delta table for output checks.

Everything here parses ``_delta_log/*.json`` with the standard library
and reads data files with pyarrow or DuckDB; nothing imports the
engine, so a wrong answer from the engine cannot hide in a shared
helper. The benchmark never removes JSON commits, so a replay of every
JSON file is complete even where checkpoints exist.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

import duckdb
import pyarrow.parquet as pq


def commits(table: str) -> dict[int, list[dict]]:
    """Commit version -> its actions, for every JSON commit."""
    log = os.path.join(table, "_delta_log")
    out = {}
    for name in os.listdir(log):
        if name.endswith(".json") and name[:20].isdigit() and len(name) == 25:
            with open(os.path.join(log, name)) as f:
                out[int(name[:20])] = [json.loads(line) for line in f if line.strip()]
    versions = sorted(out)
    if versions != list(range(len(versions))):
        raise ValueError(f"{table}: commit versions are not contiguous: {versions}")
    return out


def checkpoints(table: str) -> list[int]:
    log = os.path.join(table, "_delta_log")
    return sorted(
        int(n[:20]) for n in os.listdir(log) if n.endswith(".checkpoint.parquet")
    )


def live_files(table: str, upto: int | None = None) -> dict[str, dict]:
    """Relative path -> add action (plus its commit version) of every
    data file live at version ``upto`` (default: the latest)."""
    live: dict[str, dict] = {}
    for v, actions in sorted(commits(table).items()):
        if upto is not None and v > upto:
            break
        for act in actions:
            if "add" in act:
                if act["add"].get("deletionVector"):
                    raise ValueError(f"{table}: deletion vectors are not checked")
                live[act["add"]["path"]] = dict(act["add"], version=v)
            elif "remove" in act:
                live.pop(act["remove"]["path"], None)
    return live


def file_paths(table: str) -> list[str]:
    return [os.path.join(table, unquote(p)) for p in sorted(live_files(table))]


def query(table: str, sql: str) -> list[tuple]:
    """Run ``sql`` over the live files, exposed as view ``t`` (partition
    columns come from the hive-style directory names)."""
    files = ", ".join("'" + p.replace("'", "''") + "'" for p in file_paths(table))
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet([{files}], hive_partitioning = true)"
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


# -- expected answers for the metadata-plane calls ---------------------------

_OPS = {
    "=": lambda lo, hi, v: lo <= v <= hi,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
}


def file_min_max(table: str, column: str) -> dict[str, tuple]:
    """Relative path -> (min, max) of ``column``, read from the data."""
    out = {}
    for rel in live_files(table):
        col = pq.read_table(os.path.join(table, unquote(rel)), columns=[column])[column]
        vals = col.to_pylist()
        out[rel] = (min(vals), max(vals))
    return out


def expected_skipped(table: str, filters: list[tuple]) -> dict:
    live = live_files(table)
    bounds = {c: file_min_max(table, c) for c, _op, _v in filters}
    keep = [
        rel for rel in live
        if all(_OPS[op](*bounds[c][rel], v) for c, op, v in filters)
    ]
    return {
        "num_files": len(live),
        "num_files_skipped": len(live) - len(keep),
        "num_bytes_skipped": sum(a["size"] for r, a in live.items() if r not in keep),
    }


def expected_file_sizes(table: str) -> dict:
    """The engine's default histogram: decimal units, inclusive ranges."""
    sizes = [os.path.getsize(p) for p in file_paths(table)]
    mb, gb = 10 ** 6, 10 ** 9
    buckets = [
        ("<1mb", 0, mb - 1), ("1mb-500mb", mb, 500 * mb), ("500mb-1gb", 500 * mb, gb),
        ("1gb-2gb", gb, 2 * gb), (">2gb", 2 * gb + 1, float("inf")),
    ]
    return {
        f"num_files_{b}": sum(1 for s in sizes if lo <= s <= hi)
        for b, lo, hi in buckets
    }


def expected_updated_partitions(table: str, start_ms: int, end_ms: int | None) -> dict:
    """Partition tuple -> (first commit version, first modification
    time) over files modified in ``[start_ms, end_ms)`` (no upper end
    when ``end_ms`` is None); the engine lists partitions in that order
    (ties in any order)."""
    first: dict[tuple, tuple] = {}
    for add in live_files(table).values():
        t = add["modificationTime"]
        if start_ms <= t and (end_ms is None or t < end_ms):
            key = tuple(sorted(add["partitionValues"].items()))
            v0, t0 = first.get(key, (add["version"], t))
            first[key] = (min(v0, add["version"]), min(t0, t))
    return first


def partitions_match(result: list[dict], expected: dict) -> bool:
    keys = [tuple(sorted((k, str(v)) for k, v in r.items())) for r in result]
    if sorted(keys) != sorted(expected):
        return False
    order = [expected[k] for k in keys]
    return order == sorted(order)


def expected_count(table: str, filters: list[tuple]) -> int:
    where = " AND ".join(
        f"{c} {op} {v!r}" if isinstance(v, str) else f"{c} {op} {v}"
        for c, op, v in filters
    )
    return query(table, f"SELECT count(*) FROM t WHERE {where}")[0][0]
