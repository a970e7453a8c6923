"""Archive ingestion (levi_spark.operators.archive): round-trip laws
across all three container formats, byte-determinism (fixtures must
hash stably), CRC/truncation refusals, and the closed-form member
features the `archive_extract_members` gate relies on."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from levi_spark.operators.archive import (
    archive_member_features,
    decode_archive,
    encode_tar,
    encode_zip,
)

_NAMES = st.lists(
    st.text(
        st.characters(min_codepoint=48, max_codepoint=122), min_size=1, max_size=20
    ),
    min_size=1,
    max_size=5,
    unique=True,
)


@settings(max_examples=20, deadline=None)
@given(names=_NAMES, blob=st.binary(min_size=0, max_size=500), gz=st.booleans())
def test_tar_round_trip_law(names, blob, gz):
    members = [(f"d/{n}", blob + n.encode()) for n in names]
    out = decode_archive(encode_tar(members, gzip_stream=gz))
    assert [(m["name"], m["data"]) for m in out] == members
    assert {m["format"] for m in out} == {"tar.gz" if gz else "tar"}


@settings(max_examples=20, deadline=None)
@given(names=_NAMES, blob=st.binary(min_size=0, max_size=500), comp=st.booleans())
def test_zip_round_trip_law(names, blob, comp):
    members = [(f"d/{n}", blob + n.encode()) for n in names]
    out = decode_archive(encode_zip(members, compress=comp))
    assert [(m["name"], m["data"]) for m in out] == members


def test_encoders_are_byte_deterministic():
    """Gate fixtures must hash stably run-to-run: timestamps are
    pinned in zip entries, tar headers, and the gzip stream header."""
    members = [("a.txt", b"alpha"), ("b.txt", b"beta" * 100)]
    for enc, kw in [
        (encode_zip, {}),
        (encode_tar, {}),
        (encode_tar, {"gzip_stream": True}),
    ]:
        assert enc(members, **kw) == enc(members, **kw)


def test_refusals():
    members = [("a.txt", b"alpha")]
    with pytest.raises(ValueError, match="not a ZIP/tar"):
        decode_archive(b"plain text, no container")
    with pytest.raises(ValueError, match="bad ZIP"):
        decode_archive(encode_zip(members)[:-7])
    with pytest.raises(ValueError, match="gzip|bad tar"):
        decode_archive(encode_tar(members, gzip_stream=True)[:-5])
    # flipped byte inside a stored zip member -> CRC failure
    z = bytearray(encode_zip(members, compress=False))
    at = z.index(b"alpha")
    z[at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|bad ZIP"):
        decode_archive(bytes(z))


def test_directories_are_skipped_in_tar():
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        d = tarfile.TarInfo("dir")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        f = tarfile.TarInfo("dir/file.txt")
        f.size = 4
        tf.addfile(f, io.BytesIO(b"data"))
    out = decode_archive(buf.getvalue())
    assert [(m["name"], m["data"]) for m in out] == [("dir/file.txt", b"data")]


def test_gate_fixture_features_closed_form():
    text, d = "archive doc", 5
    hx = hashlib.md5(text.encode()).hexdigest().encode()
    members = [(f"shard/{d}/doc-{j}.txt", hx * (j + 1)) for j in range(3)]
    feats = archive_member_features(encode_tar(members, gzip_stream=True))
    hsum = sum(hx)
    for j, f in enumerate(feats):
        assert f["member_idx"] == j
        assert f["name"] == f"shard/{d}/doc-{j}.txt"
        assert f["format"] == "tar.gz"
        assert f["size"] == 32 * (j + 1)
        assert f["byte_sum"] == (j + 1) * hsum


def test_tar_xz_and_bz2_round_trip():
    """The other two stream compressors tar shards arrive in."""
    members = [("a/one.txt", b"hello"), ("b/two.bin", bytes(range(64)))]
    for comp, fmt in (("xz", "tar.xz"), ("bz2", "tar.bz2")):
        blob = encode_tar(members, compression=comp)
        out = decode_archive(blob)
        assert [(m["name"], m["data"]) for m in out] == members
        assert all(m["format"] == fmt for m in out)


def test_tar_xz_strictness():
    blob = encode_tar([("x", b"data")], compression="xz")
    with pytest.raises(ValueError, match="truncated xz"):
        decode_archive(blob[:-8])
    with pytest.raises(ValueError, match="after the xz stream"):
        decode_archive(blob + b"junk")


def test_tar_bz2_strictness():
    blob = encode_tar([("x", b"data")], compression="bz2")
    with pytest.raises(ValueError, match="truncated bzip2"):
        decode_archive(blob[:-6])
    with pytest.raises(ValueError, match="after the bzip2 stream"):
        decode_archive(blob + b"tail")


def test_targz_trailing_garbage_refuses():
    from levi_spark.operators.archive import decode_archive, encode_tar

    good = encode_tar([("a.txt", b"alpha")], gzip_stream=True)
    assert decode_archive(good)[0]["data"] == b"alpha"
    with pytest.raises(ValueError, match="after the gzip trailer"):
        decode_archive(good + b"JUNK")
    # a second concatenated gzip member is equally not a single stream
    with pytest.raises(ValueError, match="after the gzip trailer"):
        decode_archive(good + good)
