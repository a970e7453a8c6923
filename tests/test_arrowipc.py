"""Arrow IPC stream codec (levi_spark.operators.arrowipc): two-way
INTEROP against pyarrow (the reference implementation must open our
streams and we must decode its), round-trip laws with nulls and
multiple batches, framing pins, and strict refusals (dictionary
batches, compression, unsupported types, truncation)."""

from __future__ import annotations

import io
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from levi_spark.operators.arrowipc import decode_arrow_ipc, encode_arrow_ipc

SCHEMA = [("id", "int64"), ("score", "float64"), ("tag", "utf8"),
          ("ok", "bool")]


def _col(typ, draw_null):
    base = {
        "int64": st.integers(-(2**62), 2**62),
        "float64": st.floats(allow_nan=False, allow_infinity=False,
                             width=64),
        "utf8": st.text(max_size=8),
        "bool": st.booleans(),
    }[typ]
    return st.one_of(st.none(), base) if draw_null else base


@settings(max_examples=25, deadline=None)
@given(data=st.data(), n=st.integers(1, 20), nulls=st.booleans())
def test_round_trip_law(data, n, nulls):
    batch = {
        name: data.draw(st.lists(_col(t, nulls), min_size=n, max_size=n))
        for name, t in SCHEMA
    }
    s, cols = decode_arrow_ipc(encode_arrow_ipc(SCHEMA, [batch]))
    assert s == SCHEMA
    assert cols == batch


@settings(max_examples=10, deadline=None)
@given(n=st.integers(0, 12), k=st.integers(1, 4))
def test_pyarrow_reads_ours_law(n, k):
    """The reference implementation accepts every stream we emit."""
    batches = [
        {"id": list(range(i, i + n)),
         "score": [x * 0.5 for x in range(n)],
         "tag": [f"t{x}" for x in range(n)],
         "ok": [x % 2 == 0 for x in range(n)]}
        for i in range(k)
    ]
    blob = encode_arrow_ipc(SCHEMA, batches)
    t = pa.ipc.open_stream(blob).read_all()
    assert t.num_rows == n * k
    assert t.schema.names == ["id", "score", "tag", "ok"]
    got = t.to_pydict()
    assert got["id"] == [v for b in batches for v in b["id"]]


def test_we_read_pyarrows_with_nulls():
    pt = pa.table(
        {
            "id": pa.array([5, None, 7], pa.int64()),
            "score": pa.array([0.1, 2.0, None], pa.float64()),
            "tag": pa.array(["x", "yy", None], pa.utf8()),
            "ok": pa.array([None, True, False], pa.bool_()),
        }
    )
    sink = io.BytesIO()
    w = pa.ipc.new_stream(sink, pt.schema)
    w.write_table(pt)
    w.close()
    schema, cols = decode_arrow_ipc(sink.getvalue())
    assert schema == SCHEMA
    assert cols == pt.to_pydict()


def test_we_read_pyarrows_multi_batch():
    sink = io.BytesIO()
    sch = pa.schema([("v", pa.int64())])
    w = pa.ipc.new_stream(sink, sch)
    w.write_batch(pa.record_batch({"v": pa.array([1, 2], pa.int64())}))
    w.write_batch(pa.record_batch({"v": pa.array([3], pa.int64())}))
    w.close()
    _, cols = decode_arrow_ipc(sink.getvalue())
    assert cols == {"v": [1, 2, 3]}


def test_framing_pins():
    """Continuation marker, 8-byte-aligned metadata, EOS tail."""
    blob = encode_arrow_ipc([("v", "int64")], [{"v": [1]}])
    assert blob[:4] == b"\xff\xff\xff\xff"
    (mlen,) = struct.unpack_from("<I", blob, 4)
    assert mlen % 8 == 0
    assert blob[-8:] == b"\xff\xff\xff\xff\x00\x00\x00\x00"


def test_empty_and_null_only_batches():
    s, cols = decode_arrow_ipc(
        encode_arrow_ipc([("v", "utf8")], [{"v": []}, {"v": [None, None]}])
    )
    assert cols == {"v": [None, None]}
    t = pa.ipc.open_stream(
        encode_arrow_ipc([("v", "utf8")], [{"v": [None, "a"]}])
    ).read_all()
    assert t.to_pydict() == {"v": [None, "a"]}


def test_strict_refusals():
    good = encode_arrow_ipc([("v", "int64")], [{"v": [1]}])
    with pytest.raises(ValueError, match="continuation"):
        decode_arrow_ipc(b"\x00" + good)
    with pytest.raises(ValueError, match="EOS"):
        decode_arrow_ipc(good[:-8])
    with pytest.raises(ValueError, match="body truncated"):
        decode_arrow_ipc(good[:-20] + good[-8:])
    with pytest.raises(ValueError, match="ragged"):
        encode_arrow_ipc([("a", "int64"), ("b", "int64")],
                         [{"a": [1], "b": [1, 2]}])
    with pytest.raises(ValueError, match="unsupported Arrow type"):
        encode_arrow_ipc([("v", "int16")], [{"v": [1]}])
    # dictionary-encoded pyarrow stream must refuse loudly
    sink = io.BytesIO()
    arr = pa.array(["a", "b", "a"]).dictionary_encode()
    pt = pa.table({"d": arr})
    w = pa.ipc.new_stream(sink, pt.schema)
    w.write_table(pt)
    w.close()
    with pytest.raises(NotImplementedError):
        decode_arrow_ipc(sink.getvalue())
    # unsupported scalar width from a foreign writer
    sink = io.BytesIO()
    pt32 = pa.table({"v": pa.array([1], pa.int32())})
    w = pa.ipc.new_stream(sink, pt32.schema)
    w.write_table(pt32)
    w.close()
    with pytest.raises(NotImplementedError, match="bitWidth"):
        decode_arrow_ipc(sink.getvalue())


def test_file_format_round_trip_and_interop():
    """Arrow FILE (Feather v2): footer Blocks let us jump to batches;
    pyarrow opens our files, we open pyarrow's."""
    from levi_spark.operators.arrowipc import (
        decode_arrow_file,
        encode_arrow_file,
    )

    schema = [("id", "int64"), ("tag", "utf8")]
    blob = encode_arrow_file(
        schema,
        [{"id": [1, None], "tag": ["a", "bb"]}, {"id": [3], "tag": [None]}],
    )
    s, cols = decode_arrow_file(blob)
    assert s == schema
    assert cols == {"id": [1, None, 3], "tag": ["a", "bb", None]}
    r = pa.ipc.open_file(blob)
    assert r.num_record_batches == 2
    assert r.read_all().to_pydict() == cols
    sink = io.BytesIO()
    pt = pa.table({"id": pa.array([9, 8], pa.int64()),
                   "tag": pa.array(["q", None], pa.utf8())})
    w = pa.ipc.new_file(sink, pt.schema)
    w.write_table(pt)
    w.close()
    _, c2 = decode_arrow_file(sink.getvalue())
    assert c2 == pt.to_pydict()


def test_file_format_refusals():
    from levi_spark.operators.arrowipc import decode_arrow_file

    with pytest.raises(ValueError, match="magic"):
        decode_arrow_file(b"NOTARROWNOTARROW")


def test_arrowipc_empty_pyarrow_batch_decodes():
    """pyarrow emits a zero-length offsets buffer for an empty utf8
    column; the reader must not unpack a phantom first offset."""
    schema = pa.schema([("k", pa.int64()), ("s", pa.utf8())])
    empty = pa.record_batch(
        [pa.array([], pa.int64()), pa.array([], pa.utf8())], schema=schema
    )
    full = pa.record_batch(
        [pa.array([1, 2], pa.int64()), pa.array(["a", "bb"], pa.utf8())],
        schema=schema,
    )
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, schema) as wr:
        wr.write_batch(empty)
        wr.write_batch(full)
    schema_out, cols = decode_arrow_ipc(sink.getvalue())
    assert [n for n, _ in schema_out] == ["k", "s"]
    assert cols["k"] == [1, 2]
    assert cols["s"] == ["a", "bb"]
