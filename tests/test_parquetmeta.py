"""Parquet footer / Thrift compact protocol
(levi_spark.operators.parquetmeta): generic thrift decoding pinned
against hand-built byte sequences, footer parity against pyarrow on
files pyarrow writes (row groups, codecs, nested list schemas), the
tail-only read contract, and strict refusals."""

from __future__ import annotations

import os
import struct

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from levi_spark.operators.parquetmeta import (
    parse_footer,
    read_footer,
    thrift_read_struct,
)


def test_thrift_hand_built_struct():
    """Hand-assembled compact protocol: field 1 = i32 zigzag 100,
    field 2 = string "ab", field 5 (delta 3) = bool true, long-form
    field 100 = i64 -3, stop."""
    buf = bytes(
        [0x15, 0xC8, 0x01]  # delta 1, type i32, zigzag(100)=200
        + [0x18, 0x02, 0x61, 0x62]  # delta 1, binary, len 2, "ab"
        + [0x31]  # delta 3 -> field 5, type TRUE
        + [0x06, 0xC8, 0x01, 0x05]  # long form: type i64, id zz(100), zz(-3)
        + [0x00]
    )
    out = thrift_read_struct(buf)
    assert out == {1: 100, 2: b"ab", 5: True, 100: -3}


def test_thrift_list_and_nested_struct():
    """List of 2 structs, each {1: i32}; sizes in the header nibble."""
    inner1 = bytes([0x15, 0x02, 0x00])  # {1: 1}
    inner2 = bytes([0x15, 0x04, 0x00])  # {1: 2}
    buf = bytes([0x19, 0x2C]) + inner1 + inner2 + b"\x00"
    #            ^ delta1,list  ^ size 2 << 4 | struct(12)
    assert thrift_read_struct(buf) == {1: [{1: 1}, {1: 2}]}


def test_thrift_zigzag_law():
    from levi_spark.operators.parquetmeta import _Reader

    for v in (0, 1, -1, 63, -64, 2**31 - 1, -(2**31), 2**62):
        zz = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        raw = bytearray()
        while True:
            b = zz & 0x7F
            zz >>= 7
            raw.append(b | (0x80 if zz else 0))
            if not zz:
                break
        assert _Reader(bytes(raw)).zigzag() == v


@pytest.mark.parametrize("codec", ["snappy", "zstd", "none"])
def test_footer_parity_with_pyarrow(tmp_path, codec):
    t = pa.table(
        {
            "a": pa.array(range(1000), pa.int64()),
            "b": pa.array([f"s{i}" for i in range(1000)], pa.utf8()),
            "c": pa.array([i * 0.5 for i in range(1000)], pa.float64()),
        }
    )
    p = str(tmp_path / f"t_{codec}.parquet")
    pq.write_table(t, p, compression=codec, row_group_size=300)
    ours = read_footer(p)
    md = pq.ParquetFile(p).metadata
    assert ours["num_rows"] == 1000
    assert len(ours["row_groups"]) == md.num_row_groups == 4
    for gi, g in enumerate(ours["row_groups"]):
        rg = md.row_group(gi)
        assert g["num_rows"] == rg.num_rows
        for ci, c in enumerate(g["columns"]):
            col = rg.column(ci)
            assert c["path"] == col.path_in_schema
            assert c["codec"] == col.compression
            assert c["num_values"] == col.num_values
            assert c["compressed"] == col.total_compressed_size
            assert c["uncompressed"] == col.total_uncompressed_size
    assert [p for p, _ in ours["columns"]] == ["a", "b", "c"]
    assert dict(ours["columns"])["a"] == "INT64"
    assert dict(ours["columns"])["b"] == "BYTE_ARRAY"


def test_nested_list_schema_leaves(tmp_path):
    t = pa.table({"v": pa.array([[1, 2], [3]], pa.list_(pa.int32()))})
    p = str(tmp_path / "nested.parquet")
    pq.write_table(t, p)
    ours = read_footer(p)
    (path, typ), = ours["columns"]
    assert typ == "INT32"
    assert path.startswith("v.")  # v.list.element / v.list.item
    assert ours["row_groups"][0]["columns"][0]["path"] == path


def test_tail_only_read(tmp_path):
    """Corrupting PAGE bytes must not affect the footer parse — proof
    the reader touches only the tail."""
    t = pa.table({"a": pa.array(range(100), pa.int64())})
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p)
    before = read_footer(p)
    size = os.path.getsize(p)
    with open(p, "r+b") as f:
        f.seek(8)
        f.write(b"\xde\xad\xbe\xef")  # stomp page data, not the footer
    assert read_footer(p) == before


def test_strict_refusals(tmp_path):
    p = str(tmp_path / "bad.bin")
    with open(p, "wb") as f:
        f.write(b"PAR1" + b"\x00" * 20 + b"NOPE")
    with pytest.raises(ValueError, match="PAR1 magic"):
        read_footer(p)
    with open(p, "wb") as f:
        f.write(b"PAR1" + struct.pack("<I", 9999) + b"PAR1")
    with pytest.raises(ValueError, match="out of range"):
        read_footer(p)
    with pytest.raises(ValueError, match="truncated|type"):
        parse_footer(b"\x18\x7f")  # binary claiming 127 bytes


@pytest.mark.parametrize("codec", ["none", "gzip"])
def test_first_principles_column_read(tmp_path, codec):
    """footer -> page headers -> our inflate -> RLE/bit-packed levels
    -> PLAIN values, across row groups, with nulls, all three
    physical types — zero external parquet/compression code on the
    read path."""
    from levi_spark.operators.parquetmeta import read_column

    t = pa.table({
        "k": pa.array([1, None, 3, 4**9, None, 6], pa.int64()),
        "x": pa.array([0.5, 1.25, None, 3.0, 4.0, None], pa.float64()),
        "s": pa.array(["ab", None, "", "dddd", "e", "ff"], pa.utf8()),
    })
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p, compression=codec, use_dictionary=False,
                   data_page_version="1.0", row_group_size=2)
    for col in ("k", "x", "s"):
        assert read_column(p, col) == t.column(col).to_pylist()


def test_row_group_subset_read(tmp_path):
    """read_column(row_groups=[...]) — the per-task split selector the
    parallelized real-file branch of parquet_column_read rides — must
    equal the matching slice of the full read, cover the file when
    the per-group slices concatenate, and preserve footer order even
    when indices are requested out of order."""
    from levi_spark.operators.parquetmeta import read_column, read_footer

    vals = list(range(10)) + [None, 11, 12]
    t = pa.table({"k": pa.array(vals, pa.int64()),
                  "s": pa.array([f"v{v}" for v in vals], pa.utf8())})
    p = str(tmp_path / "rg.parquet")
    pq.write_table(t, p, compression="snappy", row_group_size=4)
    groups = read_footer(p)["row_groups"]
    assert len(groups) == 4
    full = read_column(p, "k")
    assert full == vals
    at = 0
    pieces = []
    for i, g in enumerate(groups):
        part = read_column(p, "k", [i])
        assert part == full[at:at + g["num_rows"]]
        at += g["num_rows"]
        pieces.extend(part)
    assert pieces == full
    # multi-group subsets decode in the order given
    assert read_column(p, "s", [2, 0]) == (
        read_column(p, "s", [2]) + read_column(p, "s", [0])
    )


def test_snappy_and_dictionary_reads(tmp_path):
    """SNAPPY chunks (our block decoder) and RLE_DICTIONARY pages —
    parquet's defaults — now read from first principles, including
    the dict-page decode and bit-packed index expansion."""
    from levi_spark.operators.parquetmeta import read_column

    vals = [i % 7 for i in range(500)]  # low cardinality -> dict wins
    t = pa.table({"k": pa.array(vals, pa.int64()),
                  "s": pa.array([f"v{v}" for v in vals], pa.utf8())})
    p = str(tmp_path / "dict.parquet")
    pq.write_table(t, p, compression="snappy", use_dictionary=True,
                   data_page_version="1.0", row_group_size=200)
    assert read_column(p, "k") == vals
    assert read_column(p, "s") == [f"v{v}" for v in vals]


def test_real_testdata_columns_match_duckdb():
    """The actual driver testdata (snappy + RLE_DICTIONARY, written
    by parquet-cpp) decodes value-exactly against duckdb."""
    import duckdb

    from levi_spark.operators.parquetmeta import read_column

    for t, col in (("documents", "doc_id"), ("lineitem", "l_quantity"),
                   ("orders", "o_orderpriority")):
        p = f"/root/testdata/sf0.001/{t}.parquet"
        want = [r[0] for r in duckdb.sql(
            f"SELECT {col} FROM read_parquet('{p}')").fetchall()]
        assert read_column(p, col) == want


def test_column_read_refusals(tmp_path):
    from levi_spark.operators.parquetmeta import read_column

    t = pa.table({"k": pa.array(range(100), pa.int64())})
    p3 = str(tmp_path / "plain.parquet")
    pq.write_table(t, p3, compression="none", use_dictionary=False,
                   data_page_version="1.0")
    with pytest.raises(ValueError, match="not in"):
        read_column(p3, "zz")
    # nested columns route to read_column_nested, flat reads refuse
    p4 = str(tmp_path / "nested.parquet")
    pq.write_table(
        pa.table({"v": pa.array([[1, 2]], pa.list_(pa.int64()))}), p4
    )
    (path, _), = read_footer(p4)["columns"]
    with pytest.raises(NotImplementedError, match="read_column_nested"):
        read_column(p4, path)


def test_parquet_column_read_plans_on_a_directory(spark, testdata_dir, tmp_path):
    """An orders table stored as a directory has no footer to read
    while the plan is built: parquet_column_read falls back to one task
    reading every row group instead of raising."""
    import shutil

    from levi_spark.queries import parquet_column_read

    orders = tmp_path / "orders.parquet"
    orders.mkdir()
    shutil.copy(os.path.join(testdata_dir, "orders.parquet"),
                orders / "part-0.parquet")
    df = parquet_column_read(spark, str(tmp_path))
    assert df.columns == [
        "n_rows", "sum_key", "n_null_price", "sum_price", "prio_chars",
    ]


def test_required_column_reads_without_level_block(tmp_path):
    """A REQUIRED (non-nullable) column carries no def-level block in
    v1 data pages; the reader must not eat 4 value bytes as one."""
    from levi_spark.operators.parquetmeta import read_column, read_footer

    t = pa.table(
        {
            "k": pa.array(range(50), pa.int64()),
            "x": pa.array([i * 0.5 for i in range(50)], pa.float64()),
            "s": pa.array([f"s{i}" for i in range(50)], pa.utf8()),
        },
        schema=pa.schema(
            [
                pa.field("k", pa.int64(), nullable=False),
                pa.field("x", pa.float64(), nullable=False),
                pa.field("s", pa.utf8(), nullable=False),
            ]
        ),
    )
    p = str(tmp_path / "req.parquet")
    pq.write_table(t, p, compression="none", use_dictionary=False,
                   data_page_version="1.0")
    f = read_footer(p)
    assert f["levels"]["k"] == (0, 0)
    for col in ("k", "x", "s"):
        assert read_column(p, col) == t.column(col).to_pylist()


def test_mixed_required_and_optional_levels(tmp_path):
    """A REQUIRED and an OPTIONAL column side by side: only the OPTIONAL
    one carries a def-level block."""
    from levi_spark.operators.parquetmeta import read_column, read_footer

    t = pa.table(
        {
            "r": pa.array(range(20), pa.int64()),
            "o": pa.array(
                [None if i % 3 == 0 else i for i in range(20)], pa.int64()
            ),
        },
        schema=pa.schema(
            [
                pa.field("r", pa.int64(), nullable=False),
                pa.field("o", pa.int64(), nullable=True),
            ]
        ),
    )
    p = str(tmp_path / "mix.parquet")
    pq.write_table(t, p, compression="snappy", use_dictionary=False,
                   data_page_version="1.0")
    f = read_footer(p)
    assert f["levels"] == {"r": (0, 0), "o": (1, 0)}
    assert read_column(p, "r") == list(range(20))
    assert read_column(p, "o") == t.column("o").to_pylist()
