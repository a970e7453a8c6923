"""First-principles Apache ORC reader: postscript/footer/stripe-footer
protobuf decode, compression chunk framing, integer RLEv1/RLEv2, byte
and boolean RLE, PRESENT streams, string direct + dictionary
encodings, and a stripe-statistics pruning planner.

No ORC library is used anywhere: protobufs are decoded by a ~40-line
reader below, and the per-chunk codecs are this repo's own
first-principles decompressors (``operators/deflate.inflate`` — ORC
"ZLIB" is raw DEFLATE — ``operators/snappy.snappy_uncompress``,
``operators/zstd.zstd_decompress``, ``operators/lz4.
lz4_block_uncompress``).  Ground truth in tests is pyarrow.orc and
Spark's native ORC writer (two independent reference writers, the
same cross-check design as the parquet reader in
``operators/parquetmeta.py``).

Scope: every non-deprecated type kind — BOOLEAN / BYTE / SHORT / INT
/ LONG / FLOAT / DOUBLE / STRING / VARCHAR / CHAR / BINARY / DATE /
DECIMAL / TIMESTAMP plus arbitrary STRUCT / LIST / MAP / UNION
nesting via :func:`read_rows` — nullable via PRESENT, DIRECT and
DICTIONARY(_V2) encodings.  ROW_INDEX streams drive row-group
pruning (:func:`plan_scan` with ``row_groups=True``) and
position-based seeks (:func:`read_row_group`).  Refusals (LZO, an
unknown wire type) are loud, never silent.

Reference parity: the reference (levi) reads table FILE metadata via
delta-rs/pyarrow (``/root/reference/levi/__init__.py:63``); this
module extends the same metadata-plane capability to the other major
columnar lake format, self-hosted.

100 TB shape: like the parquet planner, everything here needs only
the file TAIL (postscript + footer + metadata in one ranged read) and,
for reads, one ranged read per selected stream — stripe stats prune
whole stripes before any data stream is touched.
"""
from __future__ import annotations

import struct

from levi_spark.operators.deflate import inflate
from levi_spark.operators.lz4 import lz4_block_uncompress
from levi_spark.operators.snappy import snappy_uncompress
from levi_spark.operators.zstd import zstd_decompress

MAGIC = b"ORC"

_TYPE_KINDS = [
    "boolean", "byte", "short", "int", "long", "float", "double",
    "string", "binary", "timestamp", "list", "map", "struct", "union",
    "decimal", "date", "varchar", "char", "timestamp_instant",
]

_COMPRESSION = ["none", "zlib", "snappy", "lzo", "lz4", "zstd"]

_STREAM_KINDS = [
    "present", "data", "length", "dictionary_data", "dictionary_count",
    "secondary", "row_index", "bloom_filter", "bloom_filter_utf8",
]

_ENCODINGS = ["direct", "dictionary", "direct_v2", "dictionary_v2"]


# ---------------------------------------------------------------- protobuf
def _pb_varint(buf: bytes, at: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        b = buf[at]
        at += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, at
        shift += 7


def pb_decode(buf: bytes) -> dict[int, list]:
    """Decode one protobuf message into {field: [raw values]}.
    Varints stay ints, fixed64/fixed32 stay ints, length-delimited
    stay bytes (callers re-decode as message / string / packed)."""
    out: dict[int, list] = {}
    at = 0
    while at < len(buf):
        key, at = _pb_varint(buf, at)
        field, wire = key >> 3, key & 7
        if wire == 0:
            v, at = _pb_varint(buf, at)
        elif wire == 1:
            (v,) = struct.unpack_from("<Q", buf, at)
            at += 8
        elif wire == 2:
            ln, at = _pb_varint(buf, at)
            v = buf[at : at + ln]
            at += ln
        elif wire == 5:
            (v,) = struct.unpack_from("<I", buf, at)
            at += 4
        else:
            raise ValueError(f"ORC protobuf: wire type {wire}")
        out.setdefault(field, []).append(v)
    return out


def _pb_packed_varints(raw: list) -> list[int]:
    """A repeated varint field arrives either packed (one bytes blob)
    or unpacked (ints); normalize."""
    vals: list[int] = []
    for item in raw:
        if isinstance(item, int):
            vals.append(item)
        else:
            at = 0
            while at < len(item):
                v, at = _pb_varint(item, at)
                vals.append(v)
    return vals


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


# ---------------------------------------------------- compression framing
def _decompressor(kind: str):
    if kind == "zlib":
        return inflate  # ORC "ZLIB" is raw DEFLATE (no zlib header)
    if kind == "snappy":
        return snappy_uncompress
    if kind == "zstd":
        return zstd_decompress
    if kind == "lz4":
        return lz4_block_uncompress
    raise NotImplementedError(f"ORC compression {kind!r}")


def decompress_stream(buf: bytes, kind: str) -> bytes:
    """Undo ORC's chunked compression framing: 3-byte LE header per
    chunk, low bit = isOriginal, rest = chunk length."""
    if kind == "none":
        return buf
    fn = _decompressor(kind)
    out = bytearray()
    at = 0
    while at < len(buf):
        h = buf[at] | (buf[at + 1] << 8) | (buf[at + 2] << 16)
        at += 3
        ln = h >> 1
        chunk = buf[at : at + ln]
        if len(chunk) != ln:
            raise ValueError("ORC: compression chunk truncated")
        at += ln
        out += chunk if h & 1 else fn(chunk)
    return bytes(out)


# ------------------------------------------------------------- run lengths
def byte_rle(buf: bytes, n: int) -> list[int]:
    """ORC byte RLE: control c in [0,127] = run of c+3 copies of the
    next byte; c in [128,255] = 256-c literal bytes follow."""
    out: list[int] = []
    at = 0
    while len(out) < n:
        c = buf[at]
        at += 1
        if c < 128:
            out.extend([buf[at]] * (c + 3))
            at += 1
        else:
            k = 256 - c
            out.extend(buf[at : at + k])
            at += k
    del out[n:]
    return out


def boolean_rle(buf: bytes, n: int) -> list[bool]:
    """Booleans: byte RLE over bytes, 8 bits each, MSB first."""
    nbytes = (n + 7) // 8
    out: list[bool] = []
    for b in byte_rle(buf, nbytes):
        for i in range(7, -1, -1):
            out.append(bool((b >> i) & 1))
    del out[n:]
    return out


def int_rle_v1(buf: bytes, n: int, signed: bool) -> list[int]:
    """Hive-0.11 integer RLE: control c in [0,127] = run of c+3 with a
    signed byte delta then a base varint; c >= 128 = 256-c literal
    varints.  Signed values are zigzag varints."""
    out: list[int] = []
    at = 0
    while len(out) < n:
        c = buf[at]
        at += 1
        if c < 128:
            run = c + 3
            delta = struct.unpack_from("<b", buf, at)[0]
            at += 1
            base, at = _pb_varint(buf, at)
            if signed:
                base = _zigzag(base)
            out.extend(base + i * delta for i in range(run))
        else:
            for _ in range(256 - c):
                v, at = _pb_varint(buf, at)
                out.append(_zigzag(v) if signed else v)
    del out[n:]
    return out


# 5-bit width code -> bit width (ORC FixedBitSizes)
_FBS = list(range(1, 25)) + [26, 28, 30, 32, 40, 48, 56, 64]


def _unpack_be(buf: bytes, at: int, width: int, count: int):
    """MSB-first fixed-width unpack of ``count`` values starting at
    byte ``at`` — the same bits :class:`_BitReader` walks one value at
    a time, unpacked in one numpy pass (exact: each bit contributes a
    distinct power of two, so the uint64 row-sum cannot overflow for
    widths up to 64). Returns (values as Python ints, bytes consumed).
    """
    import numpy as np

    nbits = width * count
    nbytes = (nbits + 7) >> 3
    a = np.frombuffer(buf, np.uint8, nbytes, at)
    bits = np.unpackbits(a)[:nbits].reshape(count, width)
    weights = (1 << np.arange(width - 1, -1, -1, dtype=np.uint64)).astype(
        np.uint64
    )
    vals = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
    return vals.tolist(), nbytes


class _BitReader:
    """MSB-first bit reader (RLEv2 packs big-endian)."""

    __slots__ = ("buf", "at", "acc", "n")

    def __init__(self, buf: bytes, at: int):
        self.buf = buf
        self.at = at
        self.acc = 0
        self.n = 0

    def read(self, width: int) -> int:
        while self.n < width:
            self.acc = (self.acc << 8) | self.buf[self.at]
            self.at += 1
            self.n += 8
        self.n -= width
        v = (self.acc >> self.n) & ((1 << width) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def align(self) -> int:
        self.acc = 0
        self.n = 0
        return self.at


def int_rle_v2(buf: bytes, n: int, signed: bool) -> list[int]:
    """ORC RLEv2: SHORT_REPEAT / DIRECT / PATCHED_BASE / DELTA
    sub-encodings selected by the top 2 bits of the header byte."""
    out: list[int] = []
    at = 0
    while len(out) < n:
        h = buf[at]
        enc = h >> 6
        if enc == 0:  # SHORT_REPEAT
            width = ((h >> 3) & 7) + 1
            rep = (h & 7) + 3
            at += 1
            v = int.from_bytes(buf[at : at + width], "big")
            at += width
            if signed:
                v = _zigzag(v)
            out.extend([v] * rep)
        elif enc == 1:  # DIRECT
            width = _FBS[(h >> 1) & 0x1F]
            length = ((h & 1) << 8 | buf[at + 1]) + 1
            vals, used = _unpack_be(buf, at + 2, width, length)
            at = at + 2 + used
            if signed:
                vals = [_zigzag(v) for v in vals]
            out.extend(vals)
        elif enc == 3:  # DELTA
            wcode = (h >> 1) & 0x1F
            length = ((h & 1) << 8 | buf[at + 1]) + 1
            at += 2
            base, at = _pb_varint(buf, at)
            if signed:
                base = _zigzag(base)
            delta0, at = _pb_varint(buf, at)
            delta0 = _zigzag(delta0)
            vals = [base]
            if length > 1:
                vals.append(base + delta0)
            if wcode == 0:  # fixed delta
                while len(vals) < length:
                    vals.append(vals[-1] + delta0)
            else:
                width = _FBS[wcode]
                deltas, used = _unpack_be(buf, at, width, length - 2)
                at += used
                sign = 1 if delta0 >= 0 else -1
                acc = vals[-1]
                for d in deltas:
                    acc += sign * d
                    vals.append(acc)
            out.extend(vals)
        else:  # PATCHED_BASE
            width = _FBS[(h >> 1) & 0x1F]
            length = ((h & 1) << 8 | buf[at + 1]) + 1
            h3, h4 = buf[at + 2], buf[at + 3]
            bw = (h3 >> 5) + 1  # base width, bytes
            pw = _FBS[h3 & 0x1F]  # patch width, bits
            pgw = (h4 >> 5) + 1  # patch gap width, bits
            pll = h4 & 0x1F  # patch list length
            at += 4
            base = int.from_bytes(buf[at : at + bw], "big")
            if base & (1 << (bw * 8 - 1)):  # sign-magnitude MSB
                base = -(base & ((1 << (bw * 8 - 1)) - 1))
            at += bw
            vals, used = _unpack_be(buf, at, width, length)
            at += used
            # patch entries are packed at closestFixedBits(pgw + pw),
            # gap in the HIGH bits; (gap=255, patch=0) entries extend
            # gaps past 255 (handled naturally by the OR-with-zero)
            cfb = next(w for w in _FBS if w >= pgw + pw)
            patches, used = _unpack_be(buf, at, cfb, pll)
            at += used
            idx = 0
            pmask = (1 << pw) - 1
            for entry in patches:
                idx += entry >> pw
                vals[idx] |= (entry & pmask) << width
            out.extend(v + base for v in vals)
    del out[n:]
    return out


def _int_rle(buf: bytes, n: int, signed: bool, version: int) -> list[int]:
    return (int_rle_v2 if version == 2 else int_rle_v1)(buf, n, signed)


# ------------------------------------------------------------ file footers
def parse_postscript(tail: bytes) -> dict:
    pslen = tail[-1]
    try:
        ps = pb_decode(tail[-1 - pslen : -1])
    except (IndexError, struct.error) as e:
        raise ValueError(f"ORC: bad postscript (magic?): {e}") from None
    magic = ps.get(8000, [b""])[0]
    if magic != MAGIC:
        raise ValueError(f"ORC postscript magic {magic!r}")
    comp = _COMPRESSION[ps.get(2, [0])[0]]
    return {
        "footer_length": ps[1][0],
        "compression": comp,
        "compression_block_size": ps.get(3, [0])[0],
        "version": _pb_packed_varints(ps.get(4, [])),
        "metadata_length": ps.get(5, [0])[0],
        "writer_version": ps.get(6, [0])[0],
        "postscript_length": pslen,
    }


def _parse_type_tree(raw_types: list[bytes]) -> list[dict]:
    types = []
    for tb in raw_types:
        t = pb_decode(tb)
        kind = _TYPE_KINDS[t.get(1, [0])[0]]
        types.append({
            "kind": kind,
            "subtypes": _pb_packed_varints(t.get(2, [])),
            "field_names": [s.decode() for s in t.get(3, [])],
            "max_length": t.get(4, [None])[0],
            "precision": t.get(5, [None])[0],
            "scale": t.get(6, [None])[0],
        })
    return types


def _sint(v: int) -> int:
    """protobuf sint64 (zigzag) field."""
    return _zigzag(v)


def _parse_column_stats(raw: bytes) -> dict:
    s = pb_decode(raw)
    out: dict = {"num_values": s.get(1, [0])[0],
                 "has_null": bool(s.get(10, [0])[0])}
    if 2 in s:  # IntegerStatistics
        i = pb_decode(s[2][0])
        out["min"] = _sint(i[1][0]) if 1 in i else None
        out["max"] = _sint(i[2][0]) if 2 in i else None
        out["sum"] = _sint(i[3][0]) if 3 in i else None
    if 3 in s:  # DoubleStatistics
        d = pb_decode(s[3][0])
        out["min"] = struct.unpack("<d", struct.pack("<Q", d[1][0]))[0] if 1 in d else None
        out["max"] = struct.unpack("<d", struct.pack("<Q", d[2][0]))[0] if 2 in d else None
    if 4 in s:  # StringStatistics
        st = pb_decode(s[4][0])
        out["min"] = st[1][0].decode() if 1 in st else None
        out["max"] = st[2][0].decode() if 2 in st else None
    if 7 in s:  # DateStatistics (days, sint32)
        d = pb_decode(s[7][0])
        out["min"] = _sint(d[1][0]) if 1 in d else None
        out["max"] = _sint(d[2][0]) if 2 in d else None
    if 6 in s:  # DecimalStatistics (strings)
        d = pb_decode(s[6][0])
        out["min"] = d[1][0].decode() if 1 in d else None
        out["max"] = d[2][0].decode() if 2 in d else None
    return out


def parse_footer(data: bytes) -> dict:
    """Parse the tail of an ORC file (postscript + footer + metadata).
    ``data`` is the whole file or a sufficient tail slice."""
    ps = parse_postscript(data)
    flen, mlen = ps["footer_length"], ps["metadata_length"]
    pslen = ps["postscript_length"]
    fend = len(data) - 1 - pslen
    footer_raw = decompress_stream(data[fend - flen : fend], ps["compression"])
    meta_raw = decompress_stream(
        data[fend - flen - mlen : fend - flen], ps["compression"]
    )
    f = pb_decode(footer_raw)
    stripes = []
    for sb in f.get(3, []):
        s = pb_decode(sb)
        stripes.append({
            "offset": s.get(1, [0])[0],
            "index_length": s.get(2, [0])[0],
            "data_length": s.get(3, [0])[0],
            "footer_length": s.get(4, [0])[0],
            "num_rows": s.get(5, [0])[0],
        })
    types = _parse_type_tree(f.get(4, []))
    if not types or types[0]["kind"] != "struct":
        raise ValueError("ORC: root type must be a struct")
    stats = [_parse_column_stats(b) for b in f.get(7, [])]
    m = pb_decode(meta_raw) if meta_raw else {}
    stripe_stats = []
    for ssb in m.get(1, []):
        ss = pb_decode(ssb)
        stripe_stats.append([_parse_column_stats(b) for b in ss.get(1, [])])
    return {
        "postscript": ps,
        "num_rows": f.get(6, [0])[0],
        "content_length": f.get(2, [0])[0],
        "row_index_stride": f.get(8, [0])[0],
        "stripes": stripes,
        "types": types,
        "columns": list(zip(types[0]["field_names"],
                            [types[i]["kind"] for i in types[0]["subtypes"]])),
        "file_stats": stats,
        "stripe_stats": stripe_stats,
    }


def read_footer(path: str) -> dict:
    with open(path, "rb") as fh:
        return parse_footer(fh.read())


def _parse_stripe_footer(data: bytes, stripe: dict, comp: str) -> dict:
    start = stripe["offset"] + stripe["index_length"] + stripe["data_length"]
    raw = decompress_stream(
        data[start : start + stripe["footer_length"]], comp
    )
    sf = pb_decode(raw)
    streams = []
    for sb in sf.get(1, []):
        s = pb_decode(sb)
        streams.append({
            "kind": _STREAM_KINDS[s.get(1, [0])[0]],
            "column": s.get(2, [0])[0],
            "length": s.get(3, [0])[0],
        })
    encodings = []
    for eb in sf.get(2, []):
        e = pb_decode(eb)
        encodings.append({
            "kind": _ENCODINGS[e.get(1, [0])[0]],
            "dictionary_size": e.get(2, [0])[0],
        })
    return {"streams": streams, "encodings": encodings}


# ------------------------------------------------------------ column reads
def _stripe_streams(data: bytes, stripe: dict, sfooter: dict, col: int,
                    comp: str) -> dict[str, bytes]:
    """Locate and de-frame this column's streams inside one stripe.
    Index streams (row_index/bloom) come first, then data streams, in
    stripe-footer order."""
    out: dict[str, bytes] = {}
    pos = stripe["offset"]
    for st in sfooter["streams"]:
        if st["column"] == col and st["kind"] not in (
            "row_index", "bloom_filter", "bloom_filter_utf8",
        ):
            out[st["kind"]] = decompress_stream(
                data[pos : pos + st["length"]], comp
            )
        pos += st["length"]
    return out


_SECS_EPOCH_2015 = 1420070400  # 2015-01-01T00:00:00Z


def _decode_nanos(raw: list[int]) -> list[int]:
    """Trailing-zero-packed nanoseconds.  The stream is spec'd
    unsigned, but the C++ writer (pyarrow) emits NEGATIVE nanos for
    pre-1970 fractions (ceil-second + signed remainder), so the raw
    word is reinterpreted as two's complement before unpacking —
    verified byte-level against both pyarrow- and Spark-written
    files."""
    out = []
    for v in raw:
        if v >= 1 << 63:
            v -= 1 << 64
        zeros = v & 7
        v >>= 3
        if zeros:
            v *= 10 ** (zeros + 1)
        out.append(v)
    return out


def _apply_decimal_scale(mants: list[int], scales: list[int],
                         type_info: dict) -> list[int]:
    declared = type_info.get("scale") or 0
    out = []
    for m, sc in zip(mants, scales):
        if sc != declared:
            m *= 10 ** (declared - sc) if declared > sc else 1
            if declared < sc:
                raise ValueError("ORC decimal: scale above declared")
        out.append(m)
    return out


def _combine_ts(secs: list[int], nanos: list[int]) -> list[int]:
    """Writer conventions differ pre-1970: C++ (pyarrow) stores
    ceil-second + NEGATIVE nanos (plain add is exact); Java (Spark)
    stores trunc-toward-zero second + positive nanos, which needs a
    -1 s adjustment.  The C++ reader applies that adjustment iff
    ``abs_secs < 0 and nanos > 999999`` — a MILLISECOND-granularity
    threshold (probed empirically: nanos 999_999 reads plain, nanos
    1_000_000 reads adjusted), so Java-written pre-1970 instants with
    a sub-millisecond fraction diverge +1 s in the whole C++ lineage.
    This rule reproduces pyarrow's reading of BOTH writers' files
    bit-for-bit, divergences included."""
    out = []
    for s, ns in zip(secs, nanos):
        abs_s = s + _SECS_EPOCH_2015
        if abs_s < 0 and ns > 999_999:
            abs_s -= 1
        out.append(abs_s * 1_000_000_000 + ns)
    return out


def _decode_column_stripe(
    streams: dict[str, bytes], enc: dict, kind: str, n_rows: int,
    type_info: dict,
) -> list:
    """Decode one column's values for one stripe (presence applied)."""
    present = None
    if "present" in streams:
        present = boolean_rle(streams["present"], n_rows)
        n_present = sum(present)
    else:
        n_present = n_rows
    version = 2 if enc["kind"] in ("direct_v2", "dictionary_v2") else 1
    data = streams.get("data", b"")

    if kind in ("int", "long", "short", "byte"):
        if kind == "byte":
            vals = [v - 256 if v > 127 else v
                    for v in byte_rle(data, n_present)]
        else:
            vals = _int_rle(data, n_present, True, version)
    elif kind == "boolean":
        vals = boolean_rle(data, n_present)
    elif kind in ("float", "double"):
        fmt, w = ("<f", 4) if kind == "float" else ("<d", 8)
        vals = [struct.unpack_from(fmt, data, i * w)[0]
                for i in range(n_present)]
    elif kind in ("string", "varchar", "char", "binary"):
        if enc["kind"].startswith("dictionary"):
            dsize = enc["dictionary_size"]
            dlens = _int_rle(streams["length"], dsize, False, version)
            dict_bytes = streams.get("dictionary_data", b"")
            entries, at = [], 0
            for ln in dlens:
                entries.append(dict_bytes[at : at + ln])
                at += ln
            idx = _int_rle(data, n_present, False, version)
            vals = [entries[i] for i in idx]
        else:
            lens = _int_rle(streams["length"], n_present, False, version)
            vals, at = [], 0
            for ln in lens:
                vals.append(data[at : at + ln])
                at += ln
        if kind != "binary":
            vals = [v.decode("utf-8") for v in vals]
    elif kind == "date":
        vals = _int_rle(data, n_present, True, version)
    elif kind == "decimal":
        # unbounded zigzag varints + per-value scale in SECONDARY
        mants, at = [], 0
        for _ in range(n_present):
            v, at = _pb_varint(data, at)
            mants.append(_zigzag(v))
        scales = _int_rle(streams["secondary"], n_present, True, version)
        # values returned as unscaled ints at the declared scale
        vals = _apply_decimal_scale(mants, scales, type_info)
    elif kind in ("timestamp", "timestamp_instant"):
        secs = _int_rle(data, n_present, True, version)
        nanos = _decode_nanos(
            _int_rle(streams["secondary"], n_present, False, version)
        )
        vals = _combine_ts(secs, nanos)
    else:
        raise NotImplementedError(f"ORC column kind {kind!r}")

    if present is None:
        return list(vals)
    it = iter(vals)
    return [next(it) if p else None for p in present]


def read_column(path: str, column: str) -> list:
    """Read one top-level column of an ORC file from first principles.
    Returns Python values (None for nulls); decimals come back as
    unscaled ints at the declared scale, timestamps as epoch
    nanoseconds."""
    with open(path, "rb") as fh:
        data = fh.read()
    return read_column_bytes(data, column)


def read_column_bytes(data: bytes, column: str) -> list:
    footer = parse_footer(data)
    comp = footer["postscript"]["compression"]
    root = footer["types"][0]
    try:
        pos = root["field_names"].index(column)
    except ValueError:
        raise ValueError(
            f"{column!r} not in {root['field_names']}"
        ) from None
    col = root["subtypes"][pos]
    tinfo = footer["types"][col]
    kind = tinfo["kind"]
    out: list = []
    for stripe in footer["stripes"]:
        n = stripe["num_rows"]
        if kind in ("struct", "list", "map", "union"):
            out.extend(_StripeDecoder(data, stripe, footer).decode(col, n))
        else:
            sf = _parse_stripe_footer(data, stripe, comp)
            streams = _stripe_streams(data, stripe, sf, col, comp)
            out.extend(_decode_column_stripe(
                streams, sf["encodings"][col], kind, n, tinfo
            ))
    return out


# ------------------------------------------------------- record assembly
class _StripeDecoder:
    """Recursive decoder for one stripe: any composition of struct /
    list / map over the primitive kinds.  ORC nesting is simpler than
    Dremel — each nested column carries its own PRESENT bitmap (one
    bit per occurrence within present parents) and LIST/MAP carry a
    LENGTH stream — so assembly is a straight recursion, no
    repetition-level automaton."""

    def __init__(self, data: bytes, stripe: dict, footer: dict):
        self.data = data
        self.stripe = stripe
        self.types = footer["types"]
        self.comp = footer["postscript"]["compression"]
        self.sf = _parse_stripe_footer(data, stripe, self.comp)

    def _streams(self, col: int) -> dict[str, bytes]:
        return _stripe_streams(self.data, self.stripe, self.sf, col,
                               self.comp)

    def decode(self, col: int, n_slots: int) -> list:
        t = self.types[col]
        kind = t["kind"]
        streams = self._streams(col)
        enc = self.sf["encodings"][col]
        if kind not in ("struct", "list", "map", "union"):
            return _decode_column_stripe(streams, enc, kind, n_slots, t)
        present = None
        if "present" in streams:
            present = boolean_rle(streams["present"], n_slots)
            n_present = sum(present)
        else:
            n_present = n_slots
        version = 2 if enc["kind"] in ("direct_v2", "dictionary_v2") else 1
        if kind == "struct":
            fields = t["field_names"]
            cols = [self.decode(c, n_present) for c in t["subtypes"]]
            vals: list = [
                dict(zip(fields, row)) for row in zip(*cols)
            ] if cols else [{} for _ in range(n_present)]
        elif kind in ("list", "map"):
            lens = _int_rle(streams["length"], n_present, False, version)
            total = sum(lens)
            if kind == "list":
                (child,) = t["subtypes"]
                flat = self.decode(child, total)
                vals = []
                at = 0
                for ln in lens:
                    vals.append(flat[at : at + ln])
                    at += ln
            else:
                kc, vc = t["subtypes"]
                keys = self.decode(kc, total)
                mvals = self.decode(vc, total)
                vals = []
                at = 0
                for ln in lens:
                    vals.append(list(zip(keys[at : at + ln],
                                         mvals[at : at + ln])))
                    at += ln
        else:  # union: DATA = tag byte RLE, children hold their
            # occurrences in row order; values come back as
            # (tag, value) pairs
            tags = byte_rle(streams["data"], n_present)
            branch_vals = [
                iter(self.decode(c, sum(1 for t in tags if t == i)))
                for i, c in enumerate(t["subtypes"])
            ]
            vals = [(tg, next(branch_vals[tg])) for tg in tags]
        if present is None:
            return vals
        it = iter(vals)
        return [next(it) if p else None for p in present]


def read_rows(path: str) -> list[dict]:
    """Assemble whole records from an ORC file — arbitrary nesting of
    struct / list / map over every supported primitive.  Maps come
    back as lists of (key, value) pairs, matching pyarrow's
    ``to_pylist``; primitives use this module's value conventions
    (days / unscaled decimal ints / epoch nanoseconds)."""
    with open(path, "rb") as fh:
        data = fh.read()
    return read_rows_bytes(data)


def read_rows_bytes(data: bytes) -> list[dict]:
    footer = parse_footer(data)
    root = footer["types"][0]
    out: list[dict] = []
    for stripe in footer["stripes"]:
        dec = _StripeDecoder(data, stripe, footer)
        n = stripe["num_rows"]
        cols = [dec.decode(c, n) for c in root["subtypes"]]
        out.extend(dict(zip(root["field_names"], row))
                   for row in zip(*cols))
    return out


# ------------------------------------------------------------- row index
def read_row_index(data: bytes, footer: dict, stripe: dict,
                   col: int) -> list[dict]:
    """Parse one column's ROW_INDEX stream for one stripe: one entry
    per row group (``rowIndexStride`` rows), each carrying the
    column's statistics over that group plus stream seek positions.
    Returns [{"positions": [...], **stats}] in row-group order."""
    comp = footer["postscript"]["compression"]
    sf = _parse_stripe_footer(data, stripe, comp)
    pos = stripe["offset"]
    raw = None
    for st in sf["streams"]:
        if st["kind"] == "row_index" and st["column"] == col:
            raw = decompress_stream(data[pos : pos + st["length"]], comp)
            break
        pos += st["length"]
    if raw is None:
        return []
    out = []
    for eb in pb_decode(raw).get(1, []):
        e = pb_decode(eb)
        entry = {"positions": _pb_packed_varints(e.get(1, []))}
        if 2 in e:
            entry.update(_parse_column_stats(e[2][0]))
        out.append(entry)
    return out


def read_bloom_index(data: bytes, footer: dict, stripe: dict,
                     col: int) -> list[tuple[int, bytes]]:
    """Parse one column's BLOOM_FILTER_UTF8 stream for one stripe:
    ``[(num_hash_functions, utf8bitset_le_bytes)]``, one entry per row
    group (the ROW_INDEX granularity). ``[]`` when the column carries
    no bloom stream. Pre-ORC-101 ``BLOOM_FILTER`` (kind 7) streams are
    ignored: their string hashing used the writer's default charset and
    is not portable (the reason BLOOM_FILTER_UTF8 exists)."""
    comp = footer["postscript"]["compression"]
    sf = _parse_stripe_footer(data, stripe, comp)
    pos = stripe["offset"]
    raw = None
    for st in sf["streams"]:
        if st["kind"] == "bloom_filter_utf8" and st["column"] == col:
            raw = decompress_stream(data[pos : pos + st["length"]], comp)
            break
        pos += st["length"]
    if raw is None:
        return []
    out = []
    for bb in pb_decode(raw).get(1, []):
        bf = pb_decode(bb)
        k = bf.get(1, [0])[0]
        if 3 in bf:
            bitset = bf[3][0]
        else:
            # pre-UTF8 layout: repeated fixed64 bitset (field 2),
            # packed (bytes, already little-endian) or not (ints);
            # same little-endian word order once flattened
            parts = []
            for w in bf.get(2, []):
                parts.append(
                    w if isinstance(w, bytes) else struct.pack("<Q", w)
                )
            bitset = b"".join(parts)
        out.append((k, bitset))
    return out


def read_row_group(path: str, column: str, stripe_idx: int,
                   group_idx: int) -> list:
    """Decode ONE row group (``rowIndexStride`` rows) of a flat
    column by SEEKING with the ROW_INDEX positions — the needle path
    end-to-end: tail read (footer) + index read + one ranged read per
    stream starting at the recorded chunk, no bytes before the seek
    point touched by the decoders.  Kinds: int family, date, float/
    double, boolean, string/binary (direct + dictionary)."""
    with open(path, "rb") as fh:
        data = fh.read()
    footer = parse_footer(data)
    comp = footer["postscript"]["compression"]
    root = footer["types"][0]
    col = root["subtypes"][root["field_names"].index(column)]
    tinfo = footer["types"][col]
    kind = tinfo["kind"]
    stripe = footer["stripes"][stripe_idx]
    stride = footer["row_index_stride"]
    if not stride:
        raise ValueError("ORC: file has no row index")
    entries = read_row_index(data, footer, stripe, col)
    positions = entries[group_idx]["positions"]
    n_rows = min(stride, stripe["num_rows"] - group_idx * stride)
    sf = _parse_stripe_footer(data, stripe, comp)
    enc = sf["encodings"][col]
    is_dict = enc["kind"].startswith("dictionary")
    version = 2 if enc["kind"] in ("direct_v2", "dictionary_v2") else 1
    # raw (framed) stream bytes + per-stream positions slices.
    # Positions follow a CANONICAL order (present, data, length,
    # secondary) regardless of the stripe footer's stream order —
    # verified against a C++-written file that emits LENGTH before
    # DATA yet records DATA's byte offset first.
    raws: dict[str, bytes] = {}
    seeks: dict[str, tuple] = {}
    base = 1 if comp == "none" else 2

    def _extra(skind: str) -> int:
        # values-to-skip counts appended after the base byte offsets
        if skind == "present":
            return 2  # byte-RLE skip + bit offset
        if skind == "data":
            if kind == "boolean":
                return 2
            if kind in ("float", "double", "decimal") or (
                kind in ("string", "varchar", "char", "binary")
                and not is_dict
            ):
                return 0  # plain byte / varint stream: offsets suffice
            return 1  # RLE-coded values (ints, dict indices, byte RLE)
        if skind == "length":
            return 0 if is_dict else 1  # dict lengths are whole-stripe
        if skind == "secondary":
            return 1
        return 0

    pos = stripe["offset"]
    for st in sf["streams"]:
        if st["column"] == col and st["kind"] not in (
            "row_index", "bloom_filter", "bloom_filter_utf8",
        ):
            raws[st["kind"]] = data[pos : pos + st["length"]]
        pos += st["length"]
    at = 0
    for skind in ("present", "data", "length", "secondary"):
        if skind not in raws:
            continue
        if skind == "length" and is_dict:
            continue  # dictionary lengths are whole-stripe, no positions
        extra = _extra(skind)
        seeks[skind] = tuple(positions[at : at + base + extra])
        at += base + extra

    def _seek(skind: str) -> tuple[bytes, list[int]]:
        p = seeks[skind]
        if comp == "none":
            return raws[skind][p[0]:], list(p[1:])
        return (decompress_stream(raws[skind][p[0]:], comp)[p[1]:],
                list(p[2:]))

    present = None
    if "present" in raws:
        buf, (skip_bytes, skip_bits) = _seek("present")
        nbits = skip_bytes * 8 + skip_bits + n_rows
        present = boolean_rle(buf, nbits)[skip_bytes * 8 + skip_bits :]
        n_present = sum(present)
    else:
        n_present = n_rows

    def ints(skind: str, count: int, signed: bool) -> list[int]:
        buf, (skip,) = _seek(skind)
        return _int_rle(buf, skip + count, signed, version)[skip:]

    if kind in ("int", "long", "short", "date"):
        vals = ints("data", n_present, True)
    elif kind in ("timestamp", "timestamp_instant"):
        secs = ints("data", n_present, True)
        nanos = _decode_nanos(ints("secondary", n_present, False))
        vals = _combine_ts(secs, nanos)
    elif kind == "decimal":
        buf, _ = _seek("data")
        mants, p = [], 0
        for _i in range(n_present):
            v, p = _pb_varint(buf, p)
            mants.append(_zigzag(v))
        scales = ints("secondary", n_present, True)
        vals = _apply_decimal_scale(mants, scales, tinfo)
    elif kind == "byte":
        buf, (skip,) = _seek("data")
        vals = [v - 256 if v > 127 else v
                for v in byte_rle(buf, skip + n_present)[skip:]]
    elif kind == "boolean":
        buf, (skip_bytes, skip_bits) = _seek("data")
        nbits = skip_bytes * 8 + skip_bits + n_present
        vals = boolean_rle(buf, nbits)[skip_bytes * 8 + skip_bits :]
    elif kind in ("float", "double"):
        fmt, w = ("<f", 4) if kind == "float" else ("<d", 8)
        buf, _ = _seek("data")
        vals = [struct.unpack_from(fmt, buf, i * w)[0]
                for i in range(n_present)]
    elif kind in ("string", "varchar", "char", "binary"):
        if is_dict:
            # dictionary is whole-stripe: decode it, seek the indices
            dlens = _int_rle(
                decompress_stream(raws["length"], comp),
                enc["dictionary_size"], False, version,
            )
            dict_bytes = decompress_stream(
                raws.get("dictionary_data", b""), comp
            )
            entries_b, p = [], 0
            for ln in dlens:
                entries_b.append(dict_bytes[p : p + ln])
                p += ln
            vals = [entries_b[i]
                    for i in ints("data", n_present, False)]
        else:
            buf, _ = _seek("data")
            lens = ints("length", n_present, False)
            vals, p = [], 0
            for ln in lens:
                vals.append(buf[p : p + ln])
                p += ln
        if kind != "binary":
            vals = [v.decode("utf-8") for v in vals]
    else:
        raise NotImplementedError(
            f"ORC row-group seek for kind {kind!r}"
        )

    if present is None:
        return list(vals)
    it = iter(vals)
    return [next(it) if p else None for p in present]


# ---------------------------------------------------------------- planner
def plan_scan(path: str, column: str, lo, hi,
              row_groups: bool = False, bloom: bool = False) -> dict:
    """Pruning plan for ``lo <= column <= hi``.

    Stripe level uses the file's own stripe statistics (metadata
    section) — the 100 TB needle path: postscript + footer + metadata
    live in one ranged tail read; a pruned stripe costs ZERO further
    bytes.  With ``row_groups=True``, surviving stripes are refined to
    ``rowIndexStride``-sized row groups via each stripe's ROW_INDEX
    stream (one more small ranged read per surviving stripe — the ORC
    analog of the parquet ColumnIndex page pruning in
    ``operators/parquetmeta.py:plan_scan``).

    With ``bloom=True`` and a POINT predicate (``lo == hi``), each
    stats-surviving row group is additionally tested against the
    column's ``BLOOM_FILTER_UTF8`` entry (``read_bloom_index``) — the
    high-cardinality-unsorted-key case where min/max ranges admit
    nearly everything and the bloom does the real pruning. Groups
    pruned this way are reported separately
    (``groups_pruned_by_bloom`` / ``rows_pruned_by_bloom``); a stripe
    whose every group misses stays in ``stripes_kept`` (stats-level
    truth) but with an empty ``groups_kept`` list — it costs zero
    data bytes either way. Requires
    ``row_groups=True`` (the bloom's granularity IS the row group);
    files or columns without bloom streams plan exactly as before
    (``has_bloom`` False)."""
    return plan_scan_bytes(_read_file(path), column, lo, hi,
                           row_groups=row_groups, bloom=bloom)


def _read_file(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def plan_scan_bytes(data: bytes, column: str, lo, hi,
                    row_groups: bool = False,
                    bloom: bool = False) -> dict:
    footer = parse_footer(data)
    root = footer["types"][0]
    pos = root["field_names"].index(column)
    col = root["subtypes"][pos]
    keep, pruned = [], []
    for i, stripe in enumerate(footer["stripes"]):
        st = (footer["stripe_stats"][i][col]
              if i < len(footer["stripe_stats"]) else {})
        smin, smax = st.get("min"), st.get("max")
        if smin is not None and smax is not None and (
            smax < lo or smin > hi
        ):
            pruned.append(i)
        else:
            keep.append(i)
    plan = {
        "stripes_total": len(footer["stripes"]),
        "stripes_kept": keep,
        "stripes_pruned": pruned,
        "rows_pruned": sum(footer["stripes"][i]["num_rows"]
                           for i in pruned),
    }
    if not row_groups:
        return plan
    stride = footer["row_index_stride"]
    point_hash = None
    if bloom and lo == hi:
        from levi_spark.operators.orcbloom import hash_value

        try:
            point_hash = hash_value(lo, footer["types"][col]["kind"])
        except NotImplementedError:
            point_hash = None
    plan["has_bloom"] = False
    groups: dict[int, dict] = {}
    extra_rows = 0
    bloom_rows = 0
    for i in keep:
        stripe = footer["stripes"][i]
        entries = read_row_index(data, footer, stripe, col)
        if not entries or not stride:
            groups[i] = {"groups_total": None, "groups_kept": None,
                         "groups_pruned": [],
                         "groups_pruned_by_bloom": []}
            continue
        blooms = (read_bloom_index(data, footer, stripe, col)
                  if point_hash is not None else [])
        if blooms:
            plan["has_bloom"] = True
        g_keep, g_pruned, g_bloom = [], [], []
        for g, e in enumerate(entries):
            grows = min(stride, stripe["num_rows"] - g * stride)
            gmin, gmax = e.get("min"), e.get("max")
            if gmin is not None and gmax is not None and (
                gmax < lo or gmin > hi
            ):
                g_pruned.append(g)
                extra_rows += grows
            elif g < len(blooms) and not _bloom_test(blooms[g],
                                                     point_hash):
                g_bloom.append(g)
                bloom_rows += grows
            else:
                g_keep.append(g)
        groups[i] = {"groups_total": len(entries),
                     "groups_kept": g_keep, "groups_pruned": g_pruned,
                     "groups_pruned_by_bloom": g_bloom}
    plan["row_index_stride"] = stride
    plan["row_groups"] = groups
    plan["rows_pruned_by_row_groups"] = extra_rows
    plan["rows_pruned_by_bloom"] = bloom_rows
    return plan


def _bloom_test(bf: tuple[int, bytes], point_hash: int) -> bool:
    from levi_spark.operators.orcbloom import bloom_might_contain

    k, bitset = bf
    return bloom_might_contain(k, bitset, point_hash)
