"""Standard Delta deletion-vector blobs: 64-bit RoaringBitmapArray in
the 'portable' serialization, plus the Z85 descriptor encoding and the
on-disk DV file framing — everything needed to READ deletion vectors
written by delta-spark and other spec-conforming engines (the Delta
protocol's "Deletion Vector Descriptor" / "Deletion Vector File" +
the public RoaringFormatSpec).

Layouts implemented (all from the public specs):

* **DV file** (storageType 'u'/'p'): 1 format-version byte (= 1), then
  per DV at its descriptor ``offset``: ``int32 BE dataSize`` |
  ``dataSize`` blob bytes | ``int32 BE CRC-32(blob)``.
* **Blob** = RoaringBitmapArray portable: ``int32 LE magic
  1681511377`` | ``int64 LE numBitmaps`` | that many standard 32-bit
  roaring bitmaps (dense: array index = high 32 bits of the 64-bit
  row index).
* **32-bit roaring** (RoaringFormatSpec): cookie 12346 (+ container
  count) or 12347 (run-capable, count in the cookie's high 16 bits,
  followed by the run bitset); descriptive headers (key, card-1);
  optional offset header; then array (uint16 list) / bitmap (8 KiB
  bitset) / run (n_runs × (start, len-1)) containers.
* **Z85** (ZeroMQ base-85): 'u' descriptors carry a z85-encoded
  16-byte UUID (file ``deletion_vector_<uuid>.bin`` under an optional
  random prefix); 'i' descriptors carry the z85-encoded blob inline.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib

import numpy as np

MAGIC_PORTABLE = 1681511377
# blobs at or under this size are inlined in the log ('i' descriptors)
# by the standard-DV writer instead of landing as .bin files
INLINE_DV_MAX_BYTES = 64
SERIAL_COOKIE_NO_RUN = 12346
SERIAL_COOKIE_RUN = 12347
NO_OFFSET_THRESHOLD = 4

_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError(f"z85 input must be 4-byte aligned, got {len(data)}")
    out = []
    for i in range(0, len(data), 4):
        (v,) = struct.unpack(">I", data[i : i + 4])
        chunk = []
        for _ in range(5):
            chunk.append(_Z85[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError(f"z85 text must be 5-char aligned, got {len(text)}")
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            if c not in _Z85_INV:
                raise ValueError(f"invalid z85 character {c!r}")
            v = v * 85 + _Z85_INV[c]
        if v > 0xFFFFFFFF:
            raise ValueError("z85 group overflows 32 bits")
        out += struct.pack(">I", v)
    return bytes(out)


def decode_bitmap32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """One standard 32-bit roaring bitmap at ``pos``; returns (sorted
    uint32 values, new pos)."""
    # unsigned: the run cookie packs (containers-1) into the high 16
    # bits, so >=32769 containers would flip a signed int negative
    (cookie,) = struct.unpack_from("<I", buf, pos)
    if (cookie & 0xFFFF) == SERIAL_COOKIE_RUN:
        n = (cookie >> 16) + 1
        pos += 4
        run_bitset = buf[pos : pos + (n + 7) // 8]
        pos += (n + 7) // 8
        has_offsets = n >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, pos + 4)
        pos += 8
        run_bitset = b""
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    keys_cards = struct.unpack_from(f"<{2 * n}H", buf, pos)
    pos += 4 * n
    if has_offsets:
        pos += 4 * n  # sequential read — offsets redundant
    parts: list[np.ndarray] = []
    for i in range(n):
        key, card = keys_cards[2 * i], keys_cards[2 * i + 1] + 1
        is_run = bool(run_bitset) and (run_bitset[i // 8] >> (i % 8)) & 1
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            vals = []
            for _ in range(n_runs):
                start, ln = struct.unpack_from("<HH", buf, pos)
                pos += 4
                vals.append(np.arange(start, start + ln + 1, dtype=np.uint32))
            lo = np.concatenate(vals) if vals else np.empty(0, np.uint32)
        elif card <= 4096:
            lo = np.frombuffer(buf, "<u2", count=card, offset=pos).astype(
                np.uint32
            )
            pos += 2 * card
        else:
            words = np.frombuffer(buf, np.uint8, count=8192, offset=pos)
            pos += 8192
            lo = np.nonzero(np.unpackbits(words, bitorder="little"))[0].astype(
                np.uint32
            )
            if len(lo) != card:
                raise ValueError(
                    f"bitmap container cardinality mismatch: {len(lo)} != {card}"
                )
        parts.append((np.uint32(key) << np.uint32(16)) | lo)
    return (
        np.concatenate(parts) if parts else np.empty(0, np.uint32)
    ), pos


def decode_rbm_array(blob: bytes) -> np.ndarray:
    """Portable RoaringBitmapArray blob -> sorted uint64 row indexes."""
    (magic,) = struct.unpack_from("<i", blob, 0)
    if magic != MAGIC_PORTABLE:
        raise ValueError(f"bad RoaringBitmapArray magic {magic}")
    (n_bitmaps,) = struct.unpack_from("<q", blob, 4)
    pos = 12
    parts: list[np.ndarray] = []
    for high in range(n_bitmaps):
        vals32, pos = decode_bitmap32(blob, pos)
        parts.append(
            (np.uint64(high) << np.uint64(32)) | vals32.astype(np.uint64)
        )
    if pos != len(blob):
        raise ValueError(f"trailing bytes in DV blob ({len(blob) - pos})")
    return np.concatenate(parts) if parts else np.empty(0, np.uint64)


def _runs_of(lo: np.ndarray) -> list[tuple[int, int]]:
    """Sorted uint16 values -> [(start, length-1), ...] maximal runs."""
    runs: list[tuple[int, int]] = []
    start = prev = int(lo[0])
    for v in lo[1:].tolist():
        if v == prev + 1:
            prev = v
            continue
        runs.append((start, prev - start))
        start = prev = v
    runs.append((start, prev - start))
    return runs


def _encode_bitmap32(vals: np.ndarray, run_mode: str = "none") -> bytes:
    """Standard serialization of one 32-bit bitmap (test/writer side).

    Per-container choice (the spec allows mixing kinds within one
    bitmap): ``run_mode="none"`` uses array (card <= 4096) / bitmap
    only; ``"all"`` forces every container to the run form; ``"auto"``
    picks whichever encoding is smallest per container (the spec's
    runOptimize heuristic). An EMPTY bitmap serializes as the NO_RUN
    cookie with zero containers regardless of mode — the run cookie
    cannot express n=0 (container count is stored as n-1)."""
    highs = (vals >> np.uint32(16)).astype(np.uint16)
    keys = np.unique(highs)
    n = len(keys)
    if n == 0:
        return struct.pack("<ii", SERIAL_COOKIE_NO_RUN, 0)
    containers: list[bytes] = []
    run_flags = bytearray((n + 7) // 8)
    headers = bytearray()
    any_run = False
    for i, k in enumerate(keys):
        lo = (vals[highs == k] & np.uint32(0xFFFF)).astype(np.uint16)
        lo.sort()
        card = len(lo)
        headers += struct.pack("<HH", int(k), card - 1)
        flat_size = 2 * card if card <= 4096 else 8192
        use_run = False
        if run_mode != "none":
            runs = _runs_of(lo)
            use_run = run_mode == "all" or (2 + 4 * len(runs)) < flat_size
        if use_run:
            body = struct.pack("<H", len(runs)) + b"".join(
                struct.pack("<HH", s, ln) for s, ln in runs
            )
            run_flags[i // 8] |= 1 << (i % 8)
            any_run = True
        elif card <= 4096:
            body = lo.tobytes()
        else:
            bits = np.zeros(65536, np.uint8)
            bits[lo] = 1
            body = np.packbits(bits, bitorder="little").tobytes()
        containers.append(body)
    out = bytearray()
    if any_run:
        out += struct.pack("<I", SERIAL_COOKIE_RUN | ((n - 1) << 16))
        out += bytes(run_flags)
        with_offsets = n >= NO_OFFSET_THRESHOLD
    else:
        out += struct.pack("<ii", SERIAL_COOKIE_NO_RUN, n)
        with_offsets = True
    out += bytes(headers)
    if with_offsets:
        base = len(out) + 4 * n
        off = base
        for body in containers:
            out += struct.pack("<i", off)
            off += len(body)
    for body in containers:
        out += body
    return bytes(out)


def encode_rbm_array(
    values, force_run: bool = False, run_mode: str | None = None
) -> bytes:
    """Sorted-or-not iterable of uint64 row indexes -> portable blob
    (dense high-32 array, like delta's RoaringBitmapArray). The dense
    walk means a value set that skips 32-bit words emits EMPTY
    intermediate bitmaps (NO_RUN cookie, n=0) — spec-legal, and what
    delta's own array form produces. ``force_run=True`` is shorthand
    for ``run_mode="all"``; ``run_mode="auto"`` picks the smallest
    container encoding per container."""
    if run_mode is None:
        run_mode = "all" if force_run else "none"
    if run_mode not in ("none", "all", "auto"):
        raise ValueError(f"bad run_mode {run_mode!r}")
    vals = np.asarray(sorted(set(int(v) for v in values)), dtype=np.uint64)
    n_bitmaps = 0 if len(vals) == 0 else int(vals[-1] >> np.uint64(32)) + 1
    out = bytearray(struct.pack("<iq", MAGIC_PORTABLE, n_bitmaps))
    for high in range(n_bitmaps):
        sel = vals[(vals >> np.uint64(32)) == high]
        out += _encode_bitmap32(
            (sel & np.uint64(0xFFFFFFFF)).astype(np.uint32), run_mode
        )
    return bytes(out)


def read_dv_blob(file_bytes: bytes, offset: int | None, size: int) -> bytes:
    """Extract + CRC-check one DV blob from a DV file's bytes."""
    if not file_bytes or file_bytes[0] != 1:
        raise ValueError(
            f"unsupported DV file format version "
            f"{file_bytes[0] if file_bytes else 'empty'}"
        )
    pos = 1 if offset is None else int(offset)
    (data_size,) = struct.unpack_from(">i", file_bytes, pos)
    if data_size != size:
        raise ValueError(
            f"DV blob size mismatch: descriptor {size}, file {data_size}"
        )
    blob = file_bytes[pos + 4 : pos + 4 + data_size]
    (crc,) = struct.unpack_from(">I", file_bytes, pos + 4 + data_size)
    if crc != (zlib.crc32(blob) & 0xFFFFFFFF):
        raise ValueError("DV blob checksum mismatch")
    return blob


def write_dv_file(blobs: list[bytes]) -> tuple[bytes, list[int]]:
    """Frame blobs into a DV file (test/writer side); returns
    (file bytes, per-blob offsets)."""
    out = bytearray(b"\x01")
    offsets = []
    for blob in blobs:
        offsets.append(len(out))
        out += struct.pack(">i", len(blob))
        out += blob
        out += struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF)
    return bytes(out), offsets


def dv_file_path(table_path: str, path_or_inline: str) -> str:
    """Resolve a 'u' descriptor's pathOrInlineDv — ``[<random prefix>]``
    + 20 z85 chars of the UUID — to the absolute DV file path
    ``<table>/[prefix/]deletion_vector_<uuid>.bin``."""
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    u = _uuid.UUID(bytes=z85_decode(enc))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(table_path, prefix, name) if prefix else os.path.join(
        table_path, name
    )


def dv_file(table_path: str, dv) -> str | None:
    """The file a deletion-vector descriptor names: 'u' (relative UUID)
    resolves under ``table_path``, 'p' is already an absolute path, 'i'
    is inline in the log (None). Any other storageType — including the
    ``"path"`` parquet-sidecar descriptors of earlier builds — raises
    ``ValueError``: silently skipping a DV would resurrect deleted
    rows."""
    st = dv["storageType"]
    if st == "u":
        return dv_file_path(table_path, dv["pathOrInlineDv"])
    if st == "p":
        return dv["pathOrInlineDv"]
    if st == "i":
        return None
    raise ValueError(
        f"unsupported deletion-vector storageType {st!r} (the Delta spec "
        "defines 'u', 'p' and 'i'); a table with live 'path' sidecar DVs "
        "must be purge_deleted by the build that wrote them"
    )


def decode_descriptor(table_path: str, dv: dict) -> np.ndarray:
    """Deletion-vector descriptor dict (storageType / pathOrInlineDv /
    offset / sizeInBytes / cardinality) -> sorted uint64 row indexes.
    The blob is inline ('i') or read from :func:`dv_file` — a plain
    ``open`` for local paths, the filesystem seam for remote URIs."""
    p = dv_file(table_path, dv)
    if p is None:
        blob = z85_decode(dv["pathOrInlineDv"])
        # z85 requires 4-byte alignment, so writers pad the blob before
        # encoding; sizeInBytes recovers the true length
        size = dv.get("sizeInBytes")
        if size is not None and size >= 0:
            blob = blob[: int(size)]
    else:
        from levi_spark.fs import fs_for, local_form

        lp = local_form(p)
        if lp is not None:
            with open(lp, "rb") as f:
                data = f.read()
        else:
            data = fs_for(p).read_bytes(p)
        blob = read_dv_blob(data, dv.get("offset"), dv["sizeInBytes"])
    vals = decode_rbm_array(blob)
    card = dv.get("cardinality")
    if card is not None and card >= 0 and len(vals) != card:
        raise ValueError(
            f"DV cardinality mismatch: descriptor {card}, decoded {len(vals)}"
        )
    return vals
