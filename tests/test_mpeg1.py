"""MPEG-1 Audio Layer I (levi_spark.operators.mpeg1): frame
round-trip laws, CRC-16 protection, strict header validation, the
exact-rational requantization identities, the gate fixture's
worst-case frame-fit guarantee, and the documented synthesis
refusal."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from levi_spark.operators.mpeg1 import (
    BITRATES_L1,
    SAMPLE_RATES,
    decode_mpeg1_layer1,
    encode_mpeg1_layer1,
    synthesize_pcm,
)


def _random_frame_content(rng, max_alloc=14):
    alloc = rng.integers(0, max_alloc + 1, 32)
    scf = np.where(alloc > 0, rng.integers(0, 63, 32), 0)
    samples = np.zeros((12, 32), dtype=np.int64)
    for sb in range(32):
        if alloc[sb] > 0:
            samples[:, sb] = rng.integers(0, 1 << (alloc[sb] + 1), 12)
    return alloc, scf, samples


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(0, 10_000), sr=st.integers(0, 2), prot=st.booleans())
def test_frame_round_trip_law(seed, sr, prot):
    """alloc / scale factors / raw codes survive the frame bit-exact
    at every sample rate, with and without CRC protection."""
    rng = np.random.default_rng(seed)
    # the 448kbps frame SHRINKS with sample rate (slots = 12*BR/SR):
    # 32kHz carries 5376 bits (alloc<=12 fits: 320 side + 12*32*13 =
    # 5312), 44.1kHz only 3872 (alloc<=8), 48kHz 3584 (alloc<=7) —
    # the old flat max_alloc=12 overflowed at 44.1/48kHz whenever
    # hypothesis drew a dense high-allocation frame
    alloc, scf, samples = _random_frame_content(
        rng, max_alloc={0: 8, 1: 7, 2: 12}[sr]
    )
    f = encode_mpeg1_layer1(
        alloc, scf, samples, bitrate_index=14, sample_rate_index=sr,
        protection=prot,
    )
    assert len(f) == (12 * BITRATES_L1[14] * 1000 // SAMPLE_RATES[sr]) * 4
    d = decode_mpeg1_layer1(f)
    assert d["sample_rate"] == SAMPLE_RATES[sr]
    assert np.array_equal(d["alloc"], alloc)
    assert np.array_equal(d["scf_idx"], scf)
    assert np.array_equal(d["raw"], samples)


def test_requantization_identities():
    """The exact-rational surface: numerator = 2*raw - 2^nb + 2,
    denominator = 2^nb - 1, scale exponent numerator = 3 - idx. The
    spec value s = scf * (2^nb/(2^nb-1)) * (raw/2^(nb-1) - 1 +
    2^(1-nb)) equals numerator/denominator * 2^(1-idx/3) exactly."""
    rng = np.random.default_rng(7)
    alloc, scf, samples = _random_frame_content(rng, max_alloc=12)
    d = decode_mpeg1_layer1(
        encode_mpeg1_layer1(alloc, scf, samples, 14, 0)
    )
    for sb in range(32):
        if alloc[sb] == 0:
            continue
        nb = alloc[sb] + 1
        spec = (2.0**nb / (2.0**nb - 1)) * (
            samples[:, sb] / 2.0 ** (nb - 1) - 1 + 2.0 ** (1 - nb)
        ) * 2.0 ** (1 - scf[sb] / 3)
        mine = (
            d["numerators"][:, sb]
            / d["denominators"][sb]
            * 2.0 ** (d["scale_log2_num3"][sb] / 3)
        )
        np.testing.assert_allclose(mine, spec, rtol=1e-12)


def test_crc_protects_the_allocation_block():
    rng = np.random.default_rng(3)
    alloc, scf, samples = _random_frame_content(rng, max_alloc=12)
    f = encode_mpeg1_layer1(alloc, scf, samples, 14, 0)
    decode_mpeg1_layer1(f)  # clean frame passes
    bad = bytearray(f)
    bad[6] ^= 0x01  # one allocation bit
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_mpeg1_layer1(bytes(bad))
    # without protection the same flip silently changes the plane —
    # which is exactly why the gate fixture keeps protection on
    f2 = encode_mpeg1_layer1(alloc, scf, samples, 14, 0, protection=False)
    bad2 = bytearray(f2)
    bad2[4] ^= 0x01
    d2 = decode_mpeg1_layer1(bytes(bad2))
    assert not np.array_equal(d2["alloc"], alloc)


def test_header_validation_refusals():
    rng = np.random.default_rng(5)
    alloc, scf, samples = _random_frame_content(rng, max_alloc=12)
    f = encode_mpeg1_layer1(alloc, scf, samples, 14, 0)
    with pytest.raises(ValueError, match="syncword"):
        decode_mpeg1_layer1(b"\x00" + f[1:])
    # layer bits -> Layer III pattern
    bad = bytearray(f)
    bad[1] = (bad[1] & ~0x06) | 0x02
    with pytest.raises(ValueError, match="not Layer I"):
        decode_mpeg1_layer1(bytes(bad))
    with pytest.raises(ValueError, match="free-format"):
        encode_mpeg1_layer1(alloc, scf, samples, 0, 0)
    with pytest.raises(ValueError, match="0..14"):
        encode_mpeg1_layer1(np.full(32, 15), scf, samples, 14, 0)
    with pytest.raises(NotImplementedError, match="single_channel"):
        bad = bytearray(f)
        bad[3] &= 0x3F  # mode -> stereo
        decode_mpeg1_layer1(bytes(bad))


def test_gate_fixture_worst_case_always_fits():
    """The gate caps allocation at hexdigit%13 (nb <= 13) and uses
    448 kbps @ 32 kHz: even the impossible all-max digest fits the
    168-slot frame, so NO document can ever overflow."""
    alloc = np.full(32, 12)
    scf = np.full(32, 60)
    samples = np.zeros((12, 32), dtype=np.int64)
    for sb in range(32):
        samples[:, sb] = (1 << 13) - 1
    f = encode_mpeg1_layer1(alloc, scf, samples, 14, 2)
    d = decode_mpeg1_layer1(f)
    assert np.array_equal(d["raw"], samples)
    content_bits = 32 + 16 + 128 + 32 * 6 + 12 * 32 * 13
    assert content_bits <= len(f) * 8


def test_gate_fixture_stats_closed_form():
    """The exact per-doc stats the DuckDB oracle recomputes."""
    text = "mpeg doc"
    hx = hashlib.md5(text.encode()).hexdigest()
    b = np.frombuffer(hashlib.md5(text.encode()).digest(), np.uint8).astype(
        np.int64
    )
    alloc = np.array([int(c, 16) % 13 for c in hx], dtype=np.int64)
    scf = np.where(alloc > 0, 3 * (b[np.arange(32) % 16] % 21), 0)
    samples = np.zeros((12, 32), dtype=np.int64)
    for s in range(12):
        for sb in range(32):
            if alloc[sb] > 0:
                samples[s, sb] = (b[(s + sb) % 16] * (s + 7) + sb) % (
                    1 << (alloc[sb] + 1)
                )
    d = decode_mpeg1_layer1(
        encode_mpeg1_layer1(alloc, scf, samples, 14, 2)
    )
    assert d["sample_rate"] == 32000 and d["bitrate_kbps"] == 448
    assert int(d["raw"].sum()) == int(samples.sum())
    pm2 = sum((1 << (a + 1)) - 2 for a in alloc if a > 0)
    assert int(d["numerators"].sum()) == 2 * int(samples.sum()) - 12 * pm2


def test_synthesis_refused_loudly():
    with pytest.raises(NotImplementedError, match="512-tap"):
        synthesize_pcm(np.zeros((12, 32)))


def test_mpeg1_returns_documented_keys():
    from levi_spark.operators.mpeg1 import (
        decode_mpeg1_layer1,
        encode_mpeg1_layer1,
    )

    alloc = np.zeros(32, dtype=np.int64)
    alloc[0], alloc[5] = 2, 7
    scf = np.zeros(32, dtype=np.int64)
    scf[0], scf[5] = 6, 21
    raw = np.zeros((12, 32), dtype=np.int64)
    raw[:, 0] = np.arange(12) % 7
    raw[:, 5] = (3 * np.arange(12) + 1) % 255
    frame = encode_mpeg1_layer1(alloc, scf, raw)
    out = decode_mpeg1_layer1(frame)
    # exactly the documented surface — consumers following the
    # docstring's formula find every key it names
    for key in ("sample_rate", "bitrate_kbps", "alloc", "scf_idx",
                "raw", "numerators", "denominators", "scale_log2_num3"):
        assert key in out, key
    assert "denom_log2" not in out
    # and the law: denominators = 2^nb - 1, numerators = 2*raw-2^nb+2
    nb = int(alloc[5]) + 1
    assert out["denominators"][5] == (1 << nb) - 1
    assert (out["numerators"][:, 5]
            == 2 * raw[:, 5] - (1 << nb) + 2).all()
    assert out["scale_log2_num3"][5] == 3 - 21
