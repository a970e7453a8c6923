"""Parquet WRITER from first principles — pure stdlib.

The read side (:mod:`levi_spark.operators.parquetmeta`) owns the
footer, pages, encodings and codecs; this module closes the loop so
the engine can BE a parquet writer too: Thrift compact protocol
emission (varints, zigzag, short/long field headers, list headers,
nested structs), v1 data pages with PLAIN values and RLE/bit-packed
definition levels, per-chunk footer Statistics (min_value /
max_value / null_count — the inputs :func:`parquetmeta.plan_scan`
prunes on), and a codec matrix whose compressors are ALSO ours:
SNAPPY (:func:`snappy.snappy_compress`), GZIP
(:func:`deflate.gzip_wrap`), ZSTD with real predefined-table
sequence compression (:func:`zstd.zstd_compress`), or
UNCOMPRESSED.

Interop is the test: files written here are read back by pyarrow
and DuckDB (the reference readers) value-for-value, by our own
first-principles reader, and pruned by our own planner — see
``tests/test_parquetwrite.py`` and the ``parquet_write_roundtrip``
gate.

Profile: flat OPTIONAL columns and single-level ``LIST<T>`` columns
(the standard three-level layout, written with real repetition
levels), BOOLEAN / INT32 / INT64 / FLOAT / DOUBLE / BYTE_ARRAY
(UTF8), v1 OR v2 data pages, one or many pages per chunk
(``page_rows``), optional ColumnIndex/OffsetIndex page index
(``write_page_index``) and split-block Bloom filters
(``bloom_filter``). Everything else is out of scope for a writer
this engine needs (Spark remains the production writer; this proves
the format is owned, not borrowed).
"""

from __future__ import annotations

import struct

_I32T, _I64T, _BINT, _LISTT, _STRUCTT = 5, 6, 8, 9, 12
_TRUET, _FALSET = 1, 2

_PTYPES = {"BOOLEAN": 0, "INT32": 1, "INT64": 2, "FLOAT": 4,
           "DOUBLE": 5, "BYTE_ARRAY": 6, "FIXED_LEN_BYTE_ARRAY": 7}
_CODECS = {"UNCOMPRESSED": 0, "SNAPPY": 1, "GZIP": 2, "ZSTD": 6,
           "LZ4_RAW": 7}


class _TW:
    """Thrift compact protocol writer (structs, ascending field
    ids)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._stack: list[int] = []
        self._last = 0

    # -- primitives -------------------------------------------------
    def _varint(self, v: int) -> None:
        while True:
            b = v & 0x7F
            v >>= 7
            self.buf.append(b | (0x80 if v else 0))
            if not v:
                return

    def _zigzag(self, v: int) -> None:
        self._varint((v << 1) ^ (v >> 63) if v < 0 else v << 1)

    def _header(self, fid: int, ttype: int) -> None:
        delta = fid - self._last
        if 1 <= delta <= 15:
            self.buf.append((delta << 4) | ttype)
        else:
            self.buf.append(ttype)
            self._zigzag(fid)
        self._last = fid

    # -- fields -----------------------------------------------------
    def begin(self) -> None:
        self._stack.append(self._last)
        self._last = 0

    def end(self) -> None:
        self.buf.append(0)
        self._last = self._stack.pop()

    def i32(self, fid: int, v: int) -> None:
        self._header(fid, _I32T)
        self._zigzag(v)

    def i64(self, fid: int, v: int) -> None:
        self._header(fid, _I64T)
        self._zigzag(v)

    def boolean(self, fid: int, v: bool) -> None:
        self._header(fid, _TRUET if v else _FALSET)

    def binary(self, fid: int, data: bytes) -> None:
        self._header(fid, _BINT)
        self._varint(len(data))
        self.buf += data

    def list_header(self, fid: int, etype: int, n: int) -> None:
        self._header(fid, _LISTT)
        if n < 15:
            self.buf.append((n << 4) | etype)
        else:
            self.buf.append(0xF0 | etype)
            self._varint(n)

    def struct_field(self, fid: int) -> None:
        self._header(fid, _STRUCTT)
        self.begin()

    def i32_elem(self, v: int) -> None:  # list elements: bare values
        self._zigzag(v)

    def binary_elem(self, data: bytes) -> None:
        self._varint(len(data))
        self.buf += data

    def struct_elem_begin(self) -> None:
        self._stack.append(self._last)
        self._last = 0

    def i64_elem(self, v: int) -> None:
        self._zigzag(v)

    def bool_elem(self, v: bool) -> None:
        self.buf.append(_TRUET if v else _FALSET)


def _rle_hybrid(vals: list[int], width: int) -> bytes:
    """Mixed RLE/bit-packed hybrid: runs of >= 8 equal values become
    RLE runs, the rest bit-packs in groups of 8.  A bit-packed run is
    only padded at stream END (mid-stream padding would shift every
    later value), so pending values absorb the head of a long run
    until they fill a group."""
    out = bytearray()
    byte_w = (width + 7) // 8
    pending: list[int] = []
    n = len(vals)

    def flush() -> None:
        if not pending:
            return
        groups = (len(pending) + 7) // 8
        out.extend(_uleb((groups << 1) | 1))
        acc = 0
        for j, v in enumerate(pending):
            acc |= (v & ((1 << width) - 1)) << (j * width)
        out.extend(acc.to_bytes(groups * width, "little"))
        pending.clear()

    i = 0
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        run = j - i
        if run >= 8 and pending:
            take = min((-len(pending)) % 8, run)
            pending.extend([vals[i]] * take)
            i += take
            run -= take
            if len(pending) % 8 == 0:
                flush()
        if run >= 8 and not pending:
            out.extend(_uleb(run << 1))
            out.extend(vals[i].to_bytes(byte_w, "little"))
        else:
            pending.extend(vals[i:j])
        i = j
    flush()
    return bytes(out)


def _rle_levels(levels: list[int], width: int = 1) -> bytes:
    """Level block (def or rep) with the v1 4-byte length prefix."""
    body = _rle_hybrid(levels, width)
    return struct.pack("<i", len(body)) + body


def _shred_list(seg: list) -> tuple[list[int], list[int], list]:
    """Dremel-stripe one LIST<T> column segment: row None -> d0,
    [] -> d1, null element -> d2, present element -> d3; repetition
    1 continues a list (the standard 3-level layout)."""
    defs: list[int] = []
    reps: list[int] = []
    present: list = []
    for v in seg:
        if v is None:
            defs.append(0)
            reps.append(0)
        elif len(v) == 0:
            defs.append(1)
            reps.append(0)
        else:
            for i, e in enumerate(v):
                reps.append(0 if i == 0 else 1)
                if e is None:
                    defs.append(2)
                else:
                    defs.append(3)
                    present.append(e)
    return defs, reps, present


def _plain(ptype: str, values: list) -> bytes:
    if ptype == "INT64":
        return struct.pack(f"<{len(values)}q", *values)
    if ptype == "INT32":
        return struct.pack(f"<{len(values)}i", *values)
    if ptype == "DOUBLE":
        return struct.pack(f"<{len(values)}d", *values)
    if ptype == "FLOAT":
        return struct.pack(f"<{len(values)}f", *values)
    if ptype == "BOOLEAN":
        acc = 0
        for i, v in enumerate(values):
            acc |= (1 if v else 0) << i
        return acc.to_bytes((len(values) + 7) // 8, "little")
    if ptype == "BYTE_ARRAY":
        out = bytearray()
        for v in values:
            raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            out += struct.pack("<i", len(raw)) + raw
        return bytes(out)
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        return b"".join(bytes(v) for v in values)
    raise NotImplementedError(f"writer physical type {ptype}")


def _uleb(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


def _zz(v: int) -> bytes:
    return _uleb(-2 * v - 1 if v < 0 else 2 * v)


def _delta_bp_encode(vals: list[int], bits: int) -> bytes:
    """DELTA_BINARY_PACKED: block 128 / 4 miniblocks of 32, zigzag
    first value, per-block zigzag min-delta + width bytes + LSB-first
    packed (delta - min) values; deltas wrap modularly in the
    physical width (the decoder's _wrap_signed mirror)."""
    mod = 1 << bits
    half = mod >> 1
    out = bytearray(_uleb(128) + _uleb(4) + _uleb(len(vals)))
    if not vals:
        return bytes(out + _zz(0))
    out += _zz(vals[0])
    deltas = [
        ((vals[k + 1] - vals[k] + half) % mod) - half
        for k in range(len(vals) - 1)
    ]
    for at in range(0, len(deltas), 128):
        chunk = deltas[at : at + 128]
        min_d = min(chunk)
        out += _zz(min_d)
        rel = [d - min_d for d in chunk]
        used = (len(chunk) + 31) // 32
        widths = []
        bodies = []
        for m in range(4):
            part = rel[m * 32 : (m + 1) * 32]
            if not part:
                widths.append(0)
                bodies.append(b"")
                continue
            w = max(x.bit_length() for x in part)
            widths.append(w)
            if w:
                part = part + [0] * (32 - len(part))
                acc = 0
                for j, x in enumerate(part):
                    acc |= x << (j * w)
                bodies.append(acc.to_bytes(32 * w // 8, "little"))
            else:
                bodies.append(b"")
        out += bytes(widths)
        out += b"".join(bodies[:used])
    return bytes(out)


def _raws(vals: list) -> list[bytes]:
    return [v.encode("utf-8") if isinstance(v, str) else bytes(v)
            for v in vals]


def _dlba_encode(vals: list) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: delta-packed lengths + concatenated
    bytes."""
    raws = _raws(vals)
    return _delta_bp_encode([len(r) for r in raws], 32) + b"".join(
        raws
    )


def _dba_encode(vals: list) -> bytes:
    """DELTA_BYTE_ARRAY: front coding — delta-packed shared-prefix
    lengths, delta-packed suffix lengths, suffix bytes."""
    raws = _raws(vals)
    prev = b""
    prefixes: list[int] = []
    suffixes: list[bytes] = []
    for r in raws:
        p = 0
        lim = min(len(prev), len(r))
        while p < lim and prev[p] == r[p]:
            p += 1
        prefixes.append(p)
        suffixes.append(r[p:])
        prev = r
    return (
        _delta_bp_encode(prefixes, 32)
        + _delta_bp_encode([len(x) for x in suffixes], 32)
        + b"".join(suffixes)
    )


_BSS_PACK = {"FLOAT": ("<f", 4), "DOUBLE": ("<d", 8),
             "INT32": ("<i", 4), "INT64": ("<q", 8)}


def _bss_encode(ptype: str, vals: list) -> bytes:
    """BYTE_STREAM_SPLIT: k parallel byte streams (byte j of every
    value, contiguous) — the shuffle that makes float columns
    compress."""
    fmt, k = _BSS_PACK[ptype]
    raw = b"".join(struct.pack(fmt, v) for v in vals)
    return b"".join(
        raw[j::k] for j in range(k)
    )


def _rle_bool_encode(vals: list) -> bytes:
    """RLE value encoding for BOOLEAN (v2 writers' default): 4-byte
    length prefix + the width-1 hybrid."""
    body = _rle_hybrid([1 if v else 0 for v in vals], 1)
    return struct.pack("<i", len(body)) + body


# encoding name -> (code, allowed physical types, encoder)
_VALUE_ENCODINGS = {
    "DELTA_BINARY_PACKED": (
        5, ("INT32", "INT64"),
        lambda pt, vals: _delta_bp_encode(
            vals, 32 if pt == "INT32" else 64),
    ),
    "DELTA_LENGTH_BYTE_ARRAY": (
        6, ("BYTE_ARRAY",), lambda pt, vals: _dlba_encode(vals),
    ),
    "DELTA_BYTE_ARRAY": (
        7, ("BYTE_ARRAY",), lambda pt, vals: _dba_encode(vals),
    ),
    "BYTE_STREAM_SPLIT": (
        9, tuple(_BSS_PACK), _bss_encode,
    ),
    "RLE": (
        3, ("BOOLEAN",), lambda pt, vals: _rle_bool_encode(vals),
    ),
}


def _stat_bytes(ptype: str, v) -> bytes:
    if ptype == "INT64":
        return struct.pack("<q", v)
    if ptype == "INT32":
        return struct.pack("<i", v)
    if ptype == "DOUBLE":
        return struct.pack("<d", v)
    if ptype == "FLOAT":
        return struct.pack("<f", v)
    if ptype == "BOOLEAN":
        return bytes([1 if v else 0])
    return v.encode("utf-8") if isinstance(v, str) else bytes(v)


def _compress(codec: str, body: bytes) -> bytes:
    if codec == "UNCOMPRESSED":
        return body
    if codec == "SNAPPY":
        from levi_spark.operators.snappy import snappy_compress

        return snappy_compress(body)
    if codec == "GZIP":
        from levi_spark.operators.deflate import gzip_wrap

        return gzip_wrap(body)
    if codec == "ZSTD":
        from levi_spark.operators.zstd import zstd_compress

        return zstd_compress(body)
    if codec == "LZ4_RAW":
        from levi_spark.operators.lz4 import lz4_block_compress

        return lz4_block_compress(body)
    raise NotImplementedError(f"writer codec {codec}")


def _leaf_type(tname: str):
    """Resolve a leaf type name -> (physical type, SchemaElement
    extras, python->physical converter|None).  Covers the logical
    types a lakehouse column actually carries: DATE,
    TIME_MILLIS/MICROS, TIMESTAMP_MILLIS/MICROS (naive; _UTC suffix
    for instant semantics — pyarrow's own layout: ConvertedType
    always set, LogicalType carries isAdjustedToUTC), and
    DECIMAL(p,s) on INT64 (precision <= 18).  Converters accept
    datetime.date / datetime / time / Decimal objects or raw ints."""
    import datetime as _dt
    import decimal as _dec

    if tname == "DATE":
        epoch = _dt.date(1970, 1, 1)

        def cv(v):
            return v if isinstance(v, int) else (v - epoch).days

        return "INT32", {"conv": 6, "logical": (6, None)}, cv
    if tname in ("TIME_MILLIS", "TIME_MICROS"):
        us = tname == "TIME_MICROS"

        def cv(v, _us=us):
            if isinstance(v, int):
                return v
            micro = ((v.hour * 3600 + v.minute * 60 + v.second)
                     * 1000000 + v.microsecond)
            return micro if _us else micro // 1000

        return (
            "INT64" if us else "INT32",
            {"conv": 8 if us else 7,
             "logical": (7, {"utc": True, "unit": 2 if us else 1})},
            cv,
        )
    if tname.startswith("TIMESTAMP_"):
        base = tname.removesuffix("_UTC")
        utc = tname.endswith("_UTC")
        if base not in ("TIMESTAMP_MILLIS", "TIMESTAMP_MICROS"):
            raise NotImplementedError(f"writer type {tname}")
        us = base == "TIMESTAMP_MICROS"
        epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

        def cv(v, _us=us, _ep=epoch):
            if isinstance(v, int):
                return v
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            delta = v - _ep
            micro = (delta.days * 86400 + delta.seconds) * 1000000 \
                + delta.microseconds
            return micro if _us else micro // 1000

        return (
            "INT64",
            {"conv": 10 if us else 9,
             "logical": (8, {"utc": utc, "unit": 2 if us else 1})},
            cv,
        )
    if tname.startswith("DECIMAL(") and tname.endswith(")"):
        p, s_ = (int(x) for x in tname[8:-1].split(","))

        def unscaled(v, _s=s_):
            if isinstance(v, int):
                return v
            q = _dec.Decimal(v).scaleb(_s)
            if q != q.to_integral_value():
                raise ValueError(
                    f"decimal {v} does not fit scale {_s}"
                )
            return int(q)

        extra = {"conv": 5, "logical": (5, {"scale": s_, "prec": p}),
                 "scale": s_, "prec": p}
        if p <= 18:
            return "INT64", extra, unscaled
        # wide decimals: fixed-len two's complement, minimal width
        # holding +-(10^p - 1)
        tlen = 1
        while (1 << (8 * tlen - 1)) <= 10 ** p:
            tlen += 1
        extra["tlen"] = tlen

        def cv(v, _t=tlen):
            return unscaled(v).to_bytes(_t, "big", signed=True)

        return "FIXED_LEN_BYTE_ARRAY", extra, cv
    if tname not in _PTYPES:
        raise NotImplementedError(f"writer physical type {tname}")
    return tname, {}, None


def _split_top(spec: str) -> list[str]:
    """Split on commas at paren/angle depth 0 (DECIMAL(p,s) and
    nested generics carry their own commas)."""
    parts: list[str] = []
    depth = 0
    cur = []
    for ch in spec:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return parts


def _struct_fields(spec: str) -> list[tuple[str, str]]:
    return [
        (p.split(":", 1)[0].strip(), p.split(":", 1)[1].strip())
        for p in _split_top(spec)
    ]


def _column_plan(name: str, ctype: str) -> dict:
    """Parse a column type spec into a write plan: schema elements to
    emit and leaf descriptors.  Supported: plain physical types,
    ``LIST<T>``, ``STRUCT<a:T1,b:T2,...>`` (primitive fields) and
    ``MAP<K,V>`` (required key per the spec)."""
    if ctype.startswith("LIST<") and ctype.endswith(">"):
        pt, extra, cv = _leaf_type(ctype[5:-1])
        return {
            "kind": "list",
            "schema": [
                {"rep": 1, "name": name, "nchild": 1, "conv": 3},
                {"rep": 2, "name": "list", "nchild": 1},
                {"rep": 1, "name": "element", "ptype": pt, **extra},
            ],
            "leaves": [{"path": [name, "list", "element"],
                        "ptype": pt, "max_def": 3, "max_rep": 1,
                        "to_phys": cv}],
        }
    if ctype.startswith("STRUCT<") and ctype.endswith(">"):
        fields = _struct_fields(ctype[7:-1])
        resolved = [(fn,) + _leaf_type(pt) for fn, pt in fields]
        return {
            "kind": "struct",
            "fields": fields,
            "schema": [
                {"rep": 1, "name": name, "nchild": len(fields)},
            ] + [
                {"rep": 1, "name": fn, "ptype": pt, **extra}
                for fn, pt, extra, _cv in resolved
            ],
            "leaves": [{"path": [name, fn], "ptype": pt,
                        "max_def": 2, "max_rep": 0, "to_phys": cv}
                       for fn, pt, _extra, cv in resolved],
        }
    if ctype.startswith("MAP<") and ctype.endswith(">"):
        kt, vt = (p.strip() for p in _split_top(ctype[4:-1]))
        return {
            "kind": "map",
            "schema": [
                {"rep": 1, "name": name, "nchild": 1, "conv": 1},
                {"rep": 2, "name": "key_value", "nchild": 2},
                {"rep": 0, "name": "key", "ptype": kt},
                {"rep": 1, "name": "value", "ptype": vt},
            ],
            "leaves": [
                {"path": [name, "key_value", "key"], "ptype": kt,
                 "max_def": 2, "max_rep": 1},
                {"path": [name, "key_value", "value"], "ptype": vt,
                 "max_def": 3, "max_rep": 1},
            ],
        }
    ptype, extra, cv = _leaf_type(ctype)
    leaf = {"path": [name], "ptype": ptype,
            "max_def": 1, "max_rep": 0, "to_phys": cv}
    if ptype == "FIXED_LEN_BYTE_ARRAY":
        # byte order is not DECIMAL order: select min/max numerically
        leaf["stat_key"] = lambda b: int.from_bytes(
            b, "big", signed=True
        )
    return {
        "kind": "flat",
        "schema": [{"rep": 1, "name": name, "ptype": ptype,
                    **extra}],
        "leaves": [leaf],
    }


def _shred(plan: dict, seg: list) -> list[dict]:
    """Stripe one column segment into per-leaf level/value streams
    (defs, reps, present) per the plan; logical-typed leaves convert
    python values (date/datetime/time/Decimal) to their physical
    ints on the way out."""
    out = _shred_raw(plan, seg)
    for ld in out:
        cv = ld.get("to_phys")
        if cv is not None:
            ld["present"] = [cv(v) for v in ld["present"]]
    return out


def _shred_raw(plan: dict, seg: list) -> list[dict]:
    kind = plan["kind"]
    if kind == "flat":
        ld = dict(plan["leaves"][0])
        ld["defs"] = [0 if v is None else 1 for v in seg]
        ld["reps"] = None
        ld["present"] = [v for v in seg if v is not None]
        return [ld]
    if kind == "list":
        ld = dict(plan["leaves"][0])
        ld["defs"], ld["reps"], ld["present"] = _shred_list(seg)
        return [ld]
    if kind == "struct":
        out = []
        for (fn, _pt), leaf in zip(plan["fields"], plan["leaves"]):
            ld = dict(leaf)
            defs: list[int] = []
            present: list = []
            for v in seg:
                if v is None:
                    defs.append(0)
                else:
                    x = v.get(fn)
                    if x is None:
                        defs.append(1)
                    else:
                        defs.append(2)
                        present.append(x)
            ld["defs"], ld["reps"], ld["present"] = defs, None, present
            out.append(ld)
        return out
    # map: entries as [(k, v), ...] or a dict
    kd: list[int] = []
    kr: list[int] = []
    kp: list = []
    vd: list[int] = []
    vr: list[int] = []
    vp: list = []
    for v in seg:
        items = list(v.items()) if isinstance(v, dict) else v
        if v is None:
            kd.append(0)
            kr.append(0)
            vd.append(0)
            vr.append(0)
        elif len(items) == 0:
            kd.append(1)
            kr.append(0)
            vd.append(1)
            vr.append(0)
        else:
            for j, (k, val) in enumerate(items):
                r = 0 if j == 0 else 1
                kr.append(r)
                vr.append(r)
                if k is None:
                    raise ValueError("map key may not be null")
                kd.append(2)
                kp.append(k)
                if val is None:
                    vd.append(2)
                else:
                    vd.append(3)
                    vp.append(val)
    kl = dict(plan["leaves"][0])
    kl["defs"], kl["reps"], kl["present"] = kd, kr, kp
    vl = dict(plan["leaves"][1])
    vl["defs"], vl["reps"], vl["present"] = vd, vr, vp
    return [kl, vl]


def _boundary_order(page_stats: list[tuple]) -> int:
    """1 = ASCENDING, 2 = DESCENDING, 0 = UNORDERED, from per-page
    min/max (null pages break ordering claims)."""
    vals = [(mn, mx) for null_p, mn, mx, _nc in page_stats
            if not null_p]
    if len(vals) != len(page_stats) or not vals:
        return 0
    if all(vals[i][0] <= vals[i + 1][0]
           and vals[i][1] <= vals[i + 1][1]
           for i in range(len(vals) - 1)):
        return 1
    if all(vals[i][0] >= vals[i + 1][0]
           and vals[i][1] >= vals[i + 1][1]
           for i in range(len(vals) - 1)):
        return 2
    return 0


def write_parquet(
    columns: list[tuple[str, str, list]],
    codec: str = "SNAPPY",
    row_group_size: int | None = None,
    use_dictionary: bool | list[str] = False,
    column_encoding: dict | None = None,
    bloom_filter: bool | list[str] = False,
    bloom_fpp: float = 0.01,
    data_page_version: int = 1,
    page_rows: int | None = None,
    write_page_index: bool = False,
) -> bytes:
    """``[(name, type, values-with-None), ...]`` -> parquet file
    bytes.  Types: plain physical types (flat OPTIONAL columns),
    ``LIST<T>`` (three-level layout, real repetition levels),
    ``STRUCT<a:T1,b:T2>`` (primitive fields; struct-null vs
    field-null via definition levels) and ``MAP<K,V>`` (required
    keys, entries as ``[(k, v), ...]`` or a dict).
    ``row_group_size`` splits rows into row groups; ``page_rows``
    splits chunks into record-aligned pages.  ``data_page_version=2``
    emits DataPageHeaderV2 pages.  ``use_dictionary`` /
    ``column_encoding`` / ``bloom_filter`` apply to single-leaf
    columns (flat / LIST).  ``write_page_index`` emits
    ColumnIndex/OffsetIndex with a computed boundary_order."""
    if codec not in _CODECS:
        raise NotImplementedError(f"writer codec {codec}")
    if data_page_version not in (1, 2):
        raise ValueError(f"data page version {data_page_version}")
    n_rows = len(columns[0][2])
    for name, _t, vals in columns:
        if len(vals) != n_rows:
            raise ValueError(f"column {name}: ragged length")
    plans = {name: _column_plan(name, ctype)
             for name, ctype, _v in columns}
    rg = row_group_size or max(n_rows, 1)
    out = bytearray(b"PAR1")
    groups = []
    for start in range(0, n_rows, rg):
        rows = min(rg, n_rows - start)
        chunks = []
        for name, ctype, vals in columns:
            plan = plans[name]
            seg = vals[start : start + rows]
            multi = len(plan["leaves"]) > 1
            want_enc = (column_encoding or {}).get(name)
            dict_req = (
                use_dictionary is True
                or (isinstance(use_dictionary, list)
                    and name in use_dictionary)
            )
            bloom_req = bloom_filter is True or (
                isinstance(bloom_filter, list) and name in bloom_filter
            )
            if multi and (want_enc or (dict_req and
                                       isinstance(use_dictionary,
                                                  list))
                          or (bloom_req and
                              isinstance(bloom_filter, list))):
                raise NotImplementedError(
                    f"column {name}: dictionary/encoding/bloom on "
                    "STRUCT/MAP columns"
                )
            for ld in _shred(plan, seg):
                ptype = ld["ptype"]
                max_def, max_rep = ld["max_def"], ld["max_rep"]
                defs, reps = ld["defs"], ld["reps"]
                present = ld["present"]
                if want_enc is not None:
                    if want_enc not in _VALUE_ENCODINGS:
                        raise NotImplementedError(
                            f"writer encoding {want_enc}"
                        )
                    code, allowed, _encf = _VALUE_ENCODINGS[want_enc]
                    if ptype not in allowed:
                        raise NotImplementedError(
                            f"{want_enc} for {ptype}"
                        )
                dict_col = not want_enc and not multi and dict_req
                dict_off = None
                unc_total = comp_total = 0
                uniq: dict = {}
                if dict_col:
                    for v in present:
                        if v not in uniq:
                            uniq[v] = len(uniq)
                    dict_body = _plain(ptype, list(uniq))
                    dict_comp = _compress(codec, dict_body)
                    dh = _TW()
                    dh.begin()
                    dh.i32(1, 2)  # DICTIONARY_PAGE
                    dh.i32(2, len(dict_body))
                    dh.i32(3, len(dict_comp))
                    dh.struct_field(7)  # DictionaryPageHeader
                    dh.i32(1, len(uniq))
                    dh.i32(2, 0)  # PLAIN
                    dh.end()
                    dh.end()
                    dict_off = len(out)
                    out += dh.buf + dict_comp
                    unc_total += len(dh.buf) + len(dict_body)
                    comp_total += len(dh.buf) + len(dict_comp)
                    encoding = 8  # RLE_DICTIONARY
                elif want_enc:
                    encoding = _VALUE_ENCODINGS[want_enc][0]
                else:
                    encoding = 0  # PLAIN

                if max_rep:
                    rec_starts = [
                        i for i, r in enumerate(reps) if r == 0
                    ]
                else:
                    rec_starts = list(range(len(seg)))
                pr = page_rows or rows
                page_locs = []
                page_stats = []
                vcur = 0
                first_data_off = None
                for p0 in range(0, rows, pr):
                    p1 = min(p0 + pr, rows)
                    e0 = (rec_starts[p0]
                          if p0 < len(rec_starts) else 0)
                    e1 = (rec_starts[p1]
                          if p1 < len(rec_starts) else len(defs))
                    pdefs = defs[e0:e1]
                    preps = reps[e0:e1] if max_rep else None
                    n_def = sum(1 for d in pdefs if d == max_def)
                    pvals = present[vcur : vcur + n_def]
                    vcur += n_def
                    if dict_col:
                        width = max(1, (len(uniq) - 1).bit_length())
                        idx = [uniq[v] for v in pvals]
                        vbytes = bytes([width]) + _rle_hybrid(
                            idx, width
                        )
                    elif want_enc:
                        vbytes = _VALUE_ENCODINGS[want_enc][2](
                            ptype, pvals
                        )
                    else:
                        vbytes = _plain(ptype, pvals)
                    ph = _TW()
                    ph.begin()
                    hdr_off = len(out)
                    if data_page_version == 1:
                        body = b""
                        if max_rep:
                            body += _rle_levels(
                                preps, max_rep.bit_length()
                            )
                        body += _rle_levels(
                            pdefs, max_def.bit_length()
                        )
                        body += vbytes
                        comp = _compress(codec, body)
                        ph.i32(1, 0)  # DATA_PAGE
                        ph.i32(2, len(body))
                        ph.i32(3, len(comp))
                        ph.struct_field(5)  # DataPageHeader
                        ph.i32(1, len(pdefs))
                        ph.i32(2, encoding)
                        ph.i32(3, 3)  # def levels RLE
                        ph.i32(4, 3)  # rep levels RLE
                        ph.end()
                        ph.end()
                        page_bytes = ph.buf + comp
                        unc_total += len(ph.buf) + len(body)
                    else:
                        rep_blk = (
                            _rle_hybrid(preps, max_rep.bit_length())
                            if max_rep else b""
                        )
                        def_blk = _rle_hybrid(
                            pdefs, max_def.bit_length()
                        )
                        vcomp = _compress(codec, vbytes)
                        ph.i32(1, 3)  # DATA_PAGE_V2
                        ph.i32(2, len(rep_blk) + len(def_blk)
                               + len(vbytes))
                        ph.i32(3, len(rep_blk) + len(def_blk)
                               + len(vcomp))
                        ph.struct_field(8)  # DataPageHeaderV2
                        ph.i32(1, len(pdefs))
                        ph.i32(2, len(pdefs) - n_def)  # num_nulls
                        ph.i32(3, p1 - p0)  # num_rows
                        ph.i32(4, encoding)
                        ph.i32(5, len(def_blk))
                        ph.i32(6, len(rep_blk))
                        ph.boolean(7, True)
                        ph.end()
                        ph.end()
                        page_bytes = ph.buf + rep_blk + def_blk + vcomp
                        unc_total += (len(ph.buf) + len(rep_blk)
                                      + len(def_blk) + len(vbytes))
                    if first_data_off is None:
                        first_data_off = hdr_off
                    out += page_bytes
                    comp_total += len(page_bytes)
                    page_locs.append((hdr_off, len(page_bytes), p0))
                    has_nan_p = ptype in ("DOUBLE", "FLOAT") and any(
                        v != v for v in pvals
                    )
                    skey = ld.get("stat_key")
                    if pvals and not has_nan_p:
                        page_stats.append(
                            (False,
                             min(pvals, key=skey) if skey
                             else min(pvals),
                             max(pvals, key=skey) if skey
                             else max(pvals),
                             len(pdefs) - n_def)
                        )
                    else:
                        page_stats.append(
                            (True, None, None, len(pdefs) - n_def)
                        )
                bloom_off = bloom_len = None
                if bloom_req and not multi:
                    from levi_spark.operators.parquetbloom import (
                        SplitBlockBloom,
                        bloom_header_bytes,
                        optimal_num_bytes,
                    )

                    distinct = set(present)
                    bf = SplitBlockBloom(
                        optimal_num_bytes(len(distinct), bloom_fpp)
                    )
                    for v in distinct:
                        bf.insert(ptype, v)
                    hdr = bloom_header_bytes(len(bf.bits))
                    bloom_off = len(out)
                    bloom_len = len(hdr) + len(bf.bits)
                    out += hdr + bf.bits
                nn = len(defs) - len(present)
                stats = None
                has_nan = ptype in ("DOUBLE", "FLOAT") and any(
                    v != v for v in present
                )
                if present and not has_nan and max_rep == 0:
                    skey = ld.get("stat_key")
                    stats = (
                        min(present, key=skey) if skey
                        else min(present),
                        max(present, key=skey) if skey
                        else max(present),
                        nn,
                    )
                chunks.append(
                    {
                        "path": ld["path"],
                        "ptype": ptype,
                        "num_values": len(defs),
                        "unc": unc_total,
                        "comp": comp_total,
                        "offset": first_data_off,
                        "dict_offset": dict_off,
                        "encoding": encoding,
                        "stats": stats,
                        "null_count": nn,
                        "bloom_offset": bloom_off,
                        "bloom_length": bloom_len,
                        "keyed_stats": ld.get("stat_key")
                        is not None,
                        "page_locs": page_locs,
                        "page_stats": page_stats,
                    }
                )
        groups.append({"rows": rows, "chunks": chunks})

    if write_page_index:
        for g in groups:
            for c in g["chunks"]:
                ci = _TW()
                ci.begin()
                n_pages = len(c["page_stats"])
                ci.list_header(1, _TRUET, n_pages)
                for null_page, _mn, _mx, _nc in c["page_stats"]:
                    ci.bool_elem(null_page)
                ci.list_header(2, _BINT, n_pages)
                for null_page, mn, _mx, _nc in c["page_stats"]:
                    ci.binary_elem(
                        b"" if null_page
                        else _stat_bytes(c["ptype"], mn)
                    )
                ci.list_header(3, _BINT, n_pages)
                for null_page, _mn, mx, _nc in c["page_stats"]:
                    ci.binary_elem(
                        b"" if null_page
                        else _stat_bytes(c["ptype"], mx)
                    )
                ci.i32(4, 0 if c.get("keyed_stats")
                       else _boundary_order(c["page_stats"]))
                ci.list_header(5, _I64T, n_pages)
                for _np, _mn, _mx, nc in c["page_stats"]:
                    ci.i64_elem(nc)
                ci.end()
                c["ci_off"], c["ci_len"] = len(out), len(ci.buf)
                out += ci.buf
        for g in groups:
            for c in g["chunks"]:
                oi = _TW()
                oi.begin()
                oi.list_header(1, _STRUCTT, len(c["page_locs"]))
                for off, size, first_row in c["page_locs"]:
                    oi.struct_elem_begin()
                    oi.i64(1, off)
                    oi.i32(2, size)
                    oi.i64(3, first_row)
                    oi.end()
                oi.end()
                c["oi_off"], c["oi_len"] = len(out), len(oi.buf)
                out += oi.buf

    tw = _TW()
    tw.begin()
    tw.i32(1, 1)  # version
    schema_elems = [se for n, _t, _v in columns
                    for se in plans[n]["schema"]]
    tw.list_header(2, _STRUCTT, 1 + len(schema_elems))
    tw.struct_elem_begin()
    tw.binary(4, b"schema")
    tw.i32(5, len(columns))
    tw.end()
    for se in schema_elems:
        tw.struct_elem_begin()
        if "ptype" in se:
            tw.i32(1, _PTYPES[se["ptype"]])
        if "tlen" in se:
            tw.i32(2, se["tlen"])
        tw.i32(3, se["rep"])
        tw.binary(4, se["name"].encode("utf-8"))
        if "nchild" in se:
            tw.i32(5, se["nchild"])
        if "conv" in se:
            tw.i32(6, se["conv"])
        elif se.get("ptype") == "BYTE_ARRAY":
            tw.i32(6, 0)  # ConvertedType UTF8
        if "scale" in se:
            tw.i32(7, se["scale"])
            tw.i32(8, se["prec"])
        if "logical" in se:
            member, payload = se["logical"]
            tw.struct_field(10)
            tw.struct_field(member)
            if member == 5:  # DECIMAL {1: scale, 2: precision}
                tw.i32(1, payload["scale"])
                tw.i32(2, payload["prec"])
            elif member in (7, 8):  # TIME/TIMESTAMP
                tw.boolean(1, payload["utc"])
                tw.struct_field(2)  # unit union
                tw.struct_field(payload["unit"])
                tw.end()
                tw.end()
            tw.end()
            tw.end()
        tw.end()
    tw.i64(3, n_rows)
    tw.list_header(4, _STRUCTT, len(groups))
    for g in groups:
        tw.struct_elem_begin()
        tw.list_header(1, _STRUCTT, len(g["chunks"]))
        for c in g["chunks"]:
            tw.struct_elem_begin()  # ColumnChunk
            tw.i64(2, 0)  # file_offset (deprecated)
            tw.struct_field(3)  # ColumnMetaData
            tw.i32(1, _PTYPES[c["ptype"]])
            if c["encoding"] == 8:
                tw.list_header(2, _I32T, 3)
                tw.i32_elem(0)  # PLAIN (dictionary page)
                tw.i32_elem(3)  # RLE (levels)
                tw.i32_elem(8)  # RLE_DICTIONARY (indices)
            elif c["encoding"] != 0:
                tw.list_header(2, _I32T, 2)
                tw.i32_elem(c["encoding"])
                tw.i32_elem(3)  # RLE (levels)
            else:
                tw.list_header(2, _I32T, 2)
                tw.i32_elem(0)  # PLAIN
                tw.i32_elem(3)  # RLE (levels)
            tw.list_header(3, _BINT, len(c["path"]))
            for part in c["path"]:
                tw.binary_elem(part.encode("utf-8"))
            tw.i32(4, _CODECS[codec])
            tw.i64(5, c["num_values"])
            tw.i64(6, c["unc"])
            tw.i64(7, c["comp"])
            tw.i64(9, c["offset"])
            if c["dict_offset"] is not None:
                tw.i64(11, c["dict_offset"])
            tw.struct_field(12)  # Statistics: null_count always,
            tw.i64(3, c["null_count"])  # min/max only when defined
            if c["stats"] is not None:
                mn, mx, _nn = c["stats"]
                tw.binary(5, _stat_bytes(c["ptype"], mx))
                tw.binary(6, _stat_bytes(c["ptype"], mn))
            tw.end()
            if c["bloom_offset"] is not None:
                tw.i64(14, c["bloom_offset"])
                tw.i32(15, c["bloom_length"])
            tw.end()  # ColumnMetaData
            if write_page_index:
                tw.i64(4, c["oi_off"])
                tw.i32(5, c["oi_len"])
                tw.i64(6, c["ci_off"])
                tw.i32(7, c["ci_len"])
            tw.end()  # ColumnChunk
        tw.i64(2, sum(c["unc"] for c in g["chunks"]))
        tw.i64(3, g["rows"])
        tw.end()
    tw.binary(6, b"levi-spark parquetwrite (first principles)")
    # column_orders: min_value/max_value are only interpretable under
    # a declared order — TYPE_ORDER (TypeDefinedOrder) per leaf;
    # readers ignore the v2 stats fields without this
    n_leaves = sum(len(plans[n]["leaves"]) for n, _t, _v in columns)
    tw.list_header(7, _STRUCTT, n_leaves)
    for _ in range(n_leaves):
        tw.struct_elem_begin()
        tw.struct_field(1)  # TYPE_ORDER
        tw.end()
        tw.end()
    tw.end()
    out += tw.buf
    out += struct.pack("<I", len(tw.buf)) + b"PAR1"
    return bytes(out)
