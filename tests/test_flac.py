"""FLAC-subset codec (levi_spark.operators.flac): lossless round-trip
laws over every subframe kind the encoder emits plus decode-only
surface (multi-partition residuals, escapes), CRC/MD5 integrity
verification, profile refusals, and the multimodal-plane integration
the `multimodal_flac_decode` gate exercises at scale."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from levi_spark.operators.flac import (
    _BitReader,
    _BitWriter,
    _crc8,
    _crc16,
    _fixed_restore,
    _read_utf8_number,
    _rice_decode,
    _rice_encode,
    _utf8_number,
    decode_flac,
    encode_flac,
    flac_audio_decoder,
)


@settings(max_examples=40, deadline=None)
@given(
    vals=st.lists(st.integers(-32768, 32767), max_size=400),
    block=st.sampled_from([64, 192, 256, 1024, 4096]),
    rate=st.sampled_from([8000, 16000, 44100, 48000]),
)
def test_mono_round_trip_law(vals, block, rate):
    s = np.asarray(vals, dtype=np.int16)
    dec, got_rate = decode_flac(encode_flac(s, rate, block_size=block))
    assert got_rate == rate
    assert np.array_equal(dec, s)


@settings(max_examples=20, deadline=None)
@given(
    n=st.integers(0, 300),
    nch=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_multichannel_round_trip_law(n, nch, seed):
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, (n, nch)).astype(np.int16)
    dec, _ = decode_flac(encode_flac(s, 16000, block_size=128))
    want = s[:, 0] if nch == 1 else s
    assert np.array_equal(dec, want)


def test_predictor_orders_are_actually_exercised():
    """Content engineered so the encoder picks each fixed order, with
    real compression — proving prediction, not just verbatim Rice."""
    flat = np.full(4096, 77, np.int16)                       # CONSTANT
    ramp = (np.arange(4096) % 2000 - 1000).astype(np.int16)  # order 2
    noise = np.random.default_rng(1).integers(
        -32768, 32768, 4096
    ).astype(np.int16)                                        # order 0
    # ramp bound is loose-ish: the single-partition Rice parameter pays
    # unary spikes at the sawtooth wrap points (~0.26 observed)
    for s, max_ratio in [(flat, 0.02), (ramp, 0.3), (noise, 1.1)]:
        enc = encode_flac(s, 16000)
        assert len(enc) <= max_ratio * s.nbytes + 100
        assert np.array_equal(decode_flac(enc)[0], s)


def test_decode_only_surface_multi_partition_and_order4():
    """Hand-build a frame using decode-only features (partition order
    2, FIXED order 4, Rice method 1) and check exact reconstruction —
    the decoder is a strict superset of the encoder."""
    s = (np.arange(64, dtype=np.int64) ** 2 % 500 - 250).astype(np.int16)
    # residual of order 4 + warmup
    res = s.astype(np.int64)
    for _ in range(4):
        res = np.diff(res)
    bw = _BitWriter()
    hdr = bytearray([0xFF, 0xF8, 0x70, 0x08])  # 16-bit bs code, mono, 16-bit
    hdr += _utf8_number(0)
    hdr += struct.pack(">H", 63)
    hdr.append(_crc8(bytes(hdr)))
    for b in hdr:
        bw.write(b, 8)
    bw.write(0, 1)
    bw.write(0b001100, 6)  # FIXED order 4
    bw.write(0, 1)
    for w in s[:4].tolist():
        bw.write(int(w), 16)
    bw.write(0b01, 2)  # Rice method 1 (5-bit params)
    bw.write(2, 4)  # partition order 2 -> 4 partitions
    counts = [16 - 4, 16, 16, 16]
    start = 0
    for cnt in counts:
        part = res[start : start + cnt]
        start += cnt
        bw.write(7, 5)
        _rice_encode(bw, part, 7)
    bw.align()
    body = bw.bytes()
    frame = body + struct.pack(">H", _crc16(body))
    si = _BitWriter()
    si.write(64, 16)
    si.write(64, 16)
    si.write(0, 48)
    si.write(16000, 20)
    si.write(0, 3)
    si.write(15, 5)
    si.write(64, 36)
    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()
    stream = (
        b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
        + si.bytes() + md5 + frame
    )
    dec, rate = decode_flac(stream)
    assert rate == 16000
    assert np.array_equal(dec, s)


def test_corruption_is_caught():
    s = np.tile(np.frombuffer(hashlib.md5(b"x").digest(), "<i2"), 8)
    enc = bytearray(encode_flac(s, 16000))
    enc[-3] ^= 0x01  # flip a bit in the last frame body
    with pytest.raises(ValueError, match="CRC|MD5|mismatch"):
        decode_flac(bytes(enc))


def test_refusals():
    s = np.zeros(16, np.int16)
    enc = encode_flac(s, 8000)
    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"RIFF....")
    # doctor a MONO stream's channel assignment to left/side (0b1000):
    # decorrelated frames are only legal in 2-channel streams
    i = enc.index(0xFF, 4)  # first frame sync
    bad = bytearray(enc)
    bad[i + 3] = (0b1000 << 4) | (bad[i + 3] & 0x0F)
    with pytest.raises(ValueError, match="non-stereo"):
        decode_flac(bytes(bad))
    # reserved channel assignment 0b1011
    bad = bytearray(enc)
    bad[i + 3] = (0b1011 << 4) | (bad[i + 3] & 0x0F)
    with pytest.raises(ValueError, match="reserved channel"):
        decode_flac(bytes(bad))


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 600),
    seed=st.integers(0, 10_000),
    mode=st.sampled_from(["left-side", "right-side", "mid-side"]),
    block=st.sampled_from([64, 192, 256, 4096]),
)
def test_stereo_decorrelation_round_trip_law(n, seed, mode, block):
    """Round-7 surface: every decorrelated channel assignment is
    lossless for arbitrary stereo content — including odd left+right
    sums (mid-side keeps the dropped bit in the side channel) and
    full-range side values needing the 17th bit."""
    rng = np.random.default_rng(seed)
    a = rng.integers(-32768, 32768, (n, 2), dtype=np.int16)
    dec, rate = decode_flac(encode_flac(a, 44100, block_size=block, stereo=mode))
    assert rate == 44100 and np.array_equal(dec, a)


def test_stereo_decorrelation_targeted():
    """Extremes: side = left - right at the int17 limits; odd-sum
    mid-side; decorrelation actually wins on correlated channels; and
    the frame header really declares the decorrelated assignment."""
    a = np.array(
        [[-32768, 32767], [32767, -32768], [1, 2], [5, 0], [-1, -2]],
        dtype=np.int16,
    )
    for mode, code in [("left-side", 0x8), ("right-side", 0x9), ("mid-side", 0xA)]:
        enc = encode_flac(a, 8000, stereo=mode)
        i = enc.index(0xFF, 4)
        assert enc[i + 3] >> 4 == code, mode
        dec, _ = decode_flac(enc)
        assert np.array_equal(dec, a), mode
    base = (np.sin(np.arange(4000) / 25) * 12000).astype(np.int16)
    corr = np.stack([base, base + 3], axis=1).astype(np.int16)
    assert len(encode_flac(corr, 44100, stereo="mid-side")) < len(
        encode_flac(corr, 44100)
    )
    with pytest.raises(ValueError, match="stereo must be"):
        encode_flac(a, 8000, stereo="side-side")
    with pytest.raises(ValueError, match="exactly 2 channels"):
        encode_flac(np.zeros(8, np.int16), 8000, stereo="mid-side")


@settings(max_examples=40, deadline=None)
@given(vals=st.lists(st.integers(-(2**17), 2**17), max_size=50),
       param=st.integers(0, 14))
def test_rice_round_trip_law(vals, param):
    bw = _BitWriter()
    _rice_encode(bw, np.asarray(vals, np.int64), param)
    bw.align()
    got = _rice_decode(_BitReader(bw.bytes()), len(vals), param)
    assert got.tolist() == vals


@settings(max_examples=40, deadline=None)
@given(n=st.integers(0, 2**35))
def test_utf8_number_round_trip_law(n):
    v, pos = _read_utf8_number(_utf8_number(n), 0)
    assert v == n and pos == len(_utf8_number(n))


@settings(max_examples=30, deadline=None)
@given(vals=st.lists(st.integers(-10000, 10000), min_size=5, max_size=60),
       order=st.integers(0, 4))
def test_fixed_restore_inverts_diff(vals, order):
    s = np.asarray(vals, np.int64)
    res = s
    for _ in range(order):
        res = np.diff(res)
    assert np.array_equal(_fixed_restore(s[:order], res, order), s)


def test_gate_oracle_law_rms_from_md5():
    digest = hashlib.md5(b"doc text").digest()
    samples = np.tile(np.frombuffer(digest, dtype="<i2"), 8)
    d = flac_audio_decoder(encode_flac(samples, 16000))
    x = samples.astype(np.float64)
    assert d["rms"] == float(np.sqrt((x * x).mean()))
    assert (d["sample_rate"], d["n_samples"]) == (16000, 64)


def test_multimodal_plane_integration(spark):
    import pandas as pd

    from levi_spark.operators.multimodal import decode_audio_features

    rng = np.random.default_rng(5)
    raw = {i: rng.integers(-5000, 5000, 200).astype(np.int16)
           for i in range(1, 5)}
    pdf = pd.DataFrame(
        {
            "doc_id": list(raw),
            "payload": [encode_flac(s, 22050) for s in raw.values()],
        }
    )
    feats = decode_audio_features(
        spark.createDataFrame(pdf), decoder=flac_audio_decoder
    ).collect()
    assert len(feats) == 4
    for r in feats:
        x = raw[r.doc_id].astype(np.float64)
        assert r.sample_rate == 22050 and r.n_samples == 200
        assert r.rms == pytest.approx(float(np.sqrt((x * x).mean())))


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(2, 1200),
    seed=st.integers(0, 10_000),
    order=st.integers(1, 16),
    block=st.sampled_from([64, 256, 4096]),
)
def test_lpc_round_trip_law(n, seed, order, block):
    """Round-7 surface: quantized-LPC subframes are lossless for any
    content and order — encoder and decoder run the same integer
    prediction, so residual+prediction reconstructs exactly."""
    rng = np.random.default_rng(seed)
    kind = seed % 3
    if kind == 0:
        a = rng.integers(-32768, 32768, n).astype(np.int16)
    elif kind == 1:
        a = (np.sin(np.arange(n) / 13) * 14000).astype(np.int16)
    else:
        a = (np.cumsum(rng.integers(-80, 81, n))).astype(np.int16)
    dec, rate = decode_flac(
        encode_flac(a, 22050, block_size=block, lpc_order=order)
    )
    assert rate == 22050 and np.array_equal(dec, a)


def test_lpc_actually_emitted_and_targeted():
    """LPC subframes really appear (streams differ from FIXED-only and
    compress tonal content better), the gate raster's period-8 signal
    round-trips through order-8 LPC, degenerate blocks fall back, and
    a doctored negative shift refuses."""
    digest = hashlib.md5(b"lpc doc").digest()
    raster = np.tile(np.frombuffer(digest, dtype="<i2"), 8)
    e_lpc = encode_flac(raster, 16000, lpc_order=8)
    assert e_lpc != encode_flac(raster, 16000)
    dec, _ = decode_flac(e_lpc)
    assert np.array_equal(dec, raster)
    tonal = (np.sin(np.arange(8000) / 17) * 14000).astype(np.int16)
    assert len(encode_flac(tonal, 44100, lpc_order=8)) < len(
        encode_flac(tonal, 44100)
    )
    # constant block with lpc requested -> CONSTANT fallback, still exact
    const = np.full(500, -7, np.int16)
    dec, _ = decode_flac(encode_flac(const, 8000, lpc_order=8))
    assert np.array_equal(dec, const)
    # stereo + LPC together
    st2 = np.stack([tonal[:900], tonal[100:1000]], 1).astype(np.int16)
    dec, _ = decode_flac(
        encode_flac(st2, 44100, stereo="mid-side", lpc_order=6)
    )
    assert np.array_equal(dec, st2)


def test_flac_escape_width_over_31_refuses():
    from levi_spark.operators.flac import _BitWriter, _write_residual

    bw = _BitWriter()
    # residuals needing > 31 raw bits: |r| = 2^33 -> bit_length+1 = 35
    huge = np.array([1 << 33, -(1 << 33)] * 8, dtype=np.int64)
    with pytest.raises(ValueError, match="escape width caps at 31"):
        _write_residual(bw, huge, eff=16)
    # a legal escape (raw width <= 31) still writes
    bw2 = _BitWriter()
    big_but_legal = np.array([1 << 24, -(1 << 24)] * 8, dtype=np.int64)
    _write_residual(bw2, big_but_legal, eff=16)
    assert len(bw2.out) > 0 or bw2.n > 0
