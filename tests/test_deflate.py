"""DEFLATE/RFC 1951 (levi_spark.operators.deflate): both directions
cross-checked against zlib across entropy regimes and block types,
the zlib (RFC 1950) container with our own Adler-32, and strict
refusals (bad NLEN, reserved btype, over-subscribed codes, window
overrun, truncation)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from levi_spark.operators.deflate import (
    adler32,
    deflate,
    inflate,
    zlib_unwrap,
    zlib_wrap,
)


@settings(max_examples=30, deadline=None)
@given(data=st.binary(max_size=4000), lvl=st.sampled_from([0, 1, 6, 9]))
def test_inflate_decodes_zlib_law(data, lvl):
    """Every zlib-produced raw stream (stored, fixed-ish, dynamic)
    inflates to the original."""
    c = zlib.compressobj(lvl, zlib.DEFLATED, -15)
    assert inflate(c.compress(data) + c.flush()) == data


@settings(max_examples=30, deadline=None)
@given(data=st.binary(max_size=4000), mode=st.sampled_from(["fixed", "stored"]))
def test_zlib_decodes_ours_law(data, mode):
    assert zlib.decompress(deflate(data, mode), -15) == data


@settings(max_examples=40, deadline=None)
@given(data=st.binary(max_size=9000))
def test_adler32_matches_zlib_law(data):
    assert adler32(data) == zlib.adler32(data)


def test_low_entropy_actually_compresses():
    data = b"spark " * 4000
    out = deflate(data)
    assert len(out) < len(data) // 20
    assert inflate(out) == data


def test_overlapping_backref():
    """distance < length: the RLE-via-LZ77 case (dist 1, long run)."""
    data = b"A" + b"A" * 300
    out = deflate(data)
    assert inflate(out) == data
    # zlib emits the same shape for runs; decode its version too
    c = zlib.compressobj(9, zlib.DEFLATED, -15)
    assert inflate(c.compress(data) + c.flush()) == data


def test_container_interop_both_ways():
    data = bytes(np.random.default_rng(3).integers(0, 256, 3000, np.uint8))
    assert zlib.decompress(zlib_wrap(data)) == data
    assert zlib_unwrap(zlib.compress(data, 9)) == data
    assert zlib_unwrap(zlib_wrap(data, "stored")) == data


def test_stored_multi_block():
    data = bytes(range(256)) * 300  # 76800 bytes > one 0xFFFF block
    out = deflate(data, "stored")
    assert inflate(out) == data
    assert zlib.decompress(out, -15) == data


def test_strict_refusals():
    good = deflate(b"payload bytes", "stored")
    bad_nlen = bytearray(good)
    bad_nlen[3] ^= 0xFF  # corrupt NLEN complement
    with pytest.raises(ValueError, match="NLEN"):
        inflate(bytes(bad_nlen))
    with pytest.raises(ValueError, match="reserved block type"):
        inflate(b"\x07")  # bfinal=1, btype=3
    with pytest.raises(ValueError, match="truncated"):
        inflate(deflate(b"hello world hello world")[:-3])
    # distance past window: hand-build fixed block: lit 'A', then
    # length-3 backref with distance 4
    from levi_spark.operators.deflate import _BitsW, _fixed_lit_code

    bw = _BitsW()
    bw.bits(1, 1)
    bw.bits(1, 2)
    c, n = _fixed_lit_code(ord("A"))
    bw.code(c, n)
    c, n = _fixed_lit_code(257)  # length 3
    bw.code(c, n)
    bw.code(3, 5)  # distance code 3 -> distance 4 > 1 byte of output
    c, n = _fixed_lit_code(256)
    bw.code(c, n)
    with pytest.raises(ValueError, match="past window"):
        inflate(bw.done())
    # zlib container: header check bits
    wrapped = bytearray(zlib_wrap(b"x"))
    wrapped[1] ^= 0x01
    with pytest.raises(ValueError, match="check bits"):
        zlib_unwrap(bytes(wrapped))
    # Adler mismatch
    wrapped = bytearray(zlib_wrap(b"data data data"))
    wrapped[-1] ^= 0xFF
    with pytest.raises(ValueError, match="Adler-32"):
        zlib_unwrap(bytes(wrapped))


def test_fixed_code_table_pins():
    """RFC 1951 §3.2.6: symbol 0 -> 00110000 (8 bits), 144 ->
    110010000 (9), 256 -> 0000000 (7), 280 -> 11000000 (8)."""
    from levi_spark.operators.deflate import _fixed_lit_code

    assert _fixed_lit_code(0) == (0x30, 8)
    assert _fixed_lit_code(143) == (0xBF, 8)
    assert _fixed_lit_code(144) == (0x190, 9)
    assert _fixed_lit_code(255) == (0x1FF, 9)
    assert _fixed_lit_code(256) == (0, 7)
    assert _fixed_lit_code(279) == (0x17, 7)
    assert _fixed_lit_code(280) == (0xC0, 8)


@settings(max_examples=40, deadline=None)
@given(data=st.binary(max_size=6000))
def test_crc32_matches_zlib_law(data):
    from levi_spark.operators.deflate import crc32

    assert crc32(data) == zlib.crc32(data)


def test_gzip_container_interop_both_ways():
    import gzip as _gzip

    from levi_spark.operators.deflate import gzip_unwrap, gzip_wrap

    data = b"gzip member payload " * 200
    assert _gzip.decompress(gzip_wrap(data)) == data
    assert gzip_unwrap(_gzip.compress(data, 9)) == data
    # a named member from the stdlib (FNAME flag path)
    import io

    sink = io.BytesIO()
    with _gzip.GzipFile("shard.bin", "wb", fileobj=sink) as g:
        g.write(data)
    assert gzip_unwrap(sink.getvalue()) == data


def test_gzip_strictness():
    from levi_spark.operators.deflate import gzip_unwrap, gzip_wrap

    blob = bytearray(gzip_wrap(b"corpus"))
    blob[-1] ^= 0xFF
    with pytest.raises(ValueError, match="ISIZE"):
        gzip_unwrap(bytes(blob))
    blob = bytearray(gzip_wrap(b"corpus"))
    blob[-5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-32"):
        gzip_unwrap(bytes(blob))
    with pytest.raises(ValueError, match="not gzip"):
        gzip_unwrap(b"PKzip")


def test_inflate_accepts_empty_distance_code():
    """Hand-built dynamic block: two literal symbols (65, 256) of
    length 1, ONE distance code of zero bits (all HDIST lengths 0) —
    legal per §3.2.7, previously rejected at table-build time."""
    from levi_spark.operators.deflate import _BitsW

    w = _BitsW()
    w.bits(1, 1)  # BFINAL
    w.bits(2, 2)  # BTYPE = dynamic
    w.bits(0, 5)  # HLIT  = 257
    w.bits(0, 5)  # HDIST = 1
    w.bits(14, 4)  # HCLEN = 18
    # code-length code lengths in _CL_ORDER positions 0..17:
    # sym18 -> 1, sym0 -> 2, sym1 -> 2, rest 0
    cl = {18: 1, 0: 2, 1: 2}
    order = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2,
             14, 1]
    for s in order:
        w.bits(cl.get(s, 0), 3)
    # canonical codes: 18 -> 0 (1 bit), 0 -> 10, 1 -> 11 (2 bits)
    def cl_emit(sym):
        if sym == 18:
            w.code(0, 1)
        elif sym == 0:
            w.code(0b10, 2)
        else:
            w.code(0b11, 2)

    # 257 lit lengths + 1 dist length:
    cl_emit(18); w.bits(65 - 11, 7)    # 65 zeros
    cl_emit(1)                          # sym 65 'A' -> length 1
    cl_emit(18); w.bits(138 - 11, 7)   # 138 zeros
    cl_emit(18); w.bits(52 - 11, 7)    # 52 zeros  (66..255 done)
    cl_emit(1)                          # sym 256 -> length 1
    cl_emit(0)                          # the single dist length: 0
    # data: lit code is {65: 0, 256: 1}, 1 bit each
    for _ in range(5):
        w.code(0, 1)  # 'A'
    w.code(1, 1)  # end of block
    stream = w.done()
    assert inflate(stream) == b"AAAAA"
    # cross-check: zlib accepts the same stream
    assert zlib.decompressobj(-15).decompress(stream) == b"AAAAA"


def test_inflate_still_rejects_length_code_with_empty_dist():
    """If a block declares an empty distance code but then emits a
    length code, that IS invalid — the error is deferred, not lost.
    Built with HLIT=258 so symbol 257 (a length code) is in the lit
    alphabet while the distance code stays empty."""
    from levi_spark.operators import deflate as D

    cl = {18: 1, 0: 2, 1: 2}
    order = [16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2,
             14, 1]
    w2 = D._BitsW()
    w2.bits(1, 1)
    w2.bits(2, 2)
    w2.bits(1, 5)   # HLIT = 258 (includes sym 257)
    w2.bits(0, 5)   # HDIST = 1
    w2.bits(14, 4)
    for s in order:
        w2.bits(cl.get(s, 0), 3)

    def cl2(sym):
        if sym == 18:
            w2.code(0, 1)
        elif sym == 0:
            w2.code(0b10, 2)
        else:
            w2.code(0b11, 2)

    cl2(18); w2.bits(138 - 11, 7)  # 138 zeros
    cl2(18); w2.bits(118 - 11, 7)  # 118 zeros (syms 0..255)
    cl2(1)                          # sym 256 len 1
    cl2(1)                          # sym 257 len 1  (a LENGTH code)
    cl2(0)                          # dist: single zero length
    # canonical lit: 256 -> 0, 257 -> 1
    w2.code(1, 1)  # emit sym 257: length 3, needs a distance -> boom
    with pytest.raises(ValueError, match="distance code is empty"):
        D.inflate(w2.done())


def test_len_code_258_uses_code_285():
    """Length 258 must emit code 285 (0 extra bits), not code 284 +
    extra 31."""
    from levi_spark.operators.deflate import _len_code

    assert _len_code(258) == (285, 0, 0)
    assert _len_code(257) == (284, 5, 30)
    data = b"Q" * 600  # forces max-length matches
    enc = deflate(data)
    assert inflate(enc) == data
    assert zlib.decompressobj(-15).decompress(enc) == data
