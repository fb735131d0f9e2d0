"""MsgPack format shim (SURVEY §2.1 format long tail).

Reference: MsgPackRowInputFormat / MsgPackRowOutputFormat
(/root/reference/src/Processors/Formats/Impl/MsgPackRowInputFormat.cpp,
registerFormats.cpp MsgPack) — each row is its column values serialized
CONSECUTIVELY in MessagePack encoding (no per-row array wrapper), rows
concatenated; a reader needs the column count/types, exactly like
RowBinary. No msgpack library ships in this container, so the codec is
implemented here directly from the public MessagePack spec (~the same
footprint as the hand-built RowBinary codec in rowbinary.py).

Parallelism contract (same as rowbinary.py): the format is not
splittable, so the unit of parallelism is the FILE —
``spark.read.format("binaryFile")`` hands each file to one task and
``mapInPandas`` decodes there. Dump many files for scale. The writer
encodes rows collected on the driver (`formats.collect`); large outputs
should stay parquet.

Type mapping (CH MsgPack serialization): Int*/UInt* → int family,
Float64 → float64, String → str, Nullable NULL → nil, Bool → bool,
Date → uint days since epoch, DateTime → uint epoch seconds,
binary → bin.
"""

from __future__ import annotations

import struct
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

_EPOCH = date(1970, 1, 1)


# ---------------------------------------------------------------------------
# Codec (public MessagePack spec).
# ---------------------------------------------------------------------------


def pack_value(v, out: bytearray) -> None:
    if v is None:
        out.append(0xC0)
    elif isinstance(v, bool):
        out.append(0xC3 if v else 0xC2)
    elif isinstance(v, int):
        if 0 <= v <= 0x7F:
            out.append(v)
        elif -32 <= v < 0:
            out.append(v & 0xFF)
        elif 0 <= v <= 0xFF:
            out += bytes((0xCC, v))
        elif 0 <= v <= 0xFFFF:
            out.append(0xCD)
            out += struct.pack(">H", v)
        elif 0 <= v <= 0xFFFFFFFF:
            out.append(0xCE)
            out += struct.pack(">I", v)
        elif 0 <= v <= 0xFFFFFFFFFFFFFFFF:
            out.append(0xCF)
            out += struct.pack(">Q", v)
        elif -0x80 <= v < 0:
            out.append(0xD0)
            out += struct.pack(">b", v)
        elif -0x8000 <= v < 0:
            out.append(0xD1)
            out += struct.pack(">h", v)
        elif -0x80000000 <= v < 0:
            out.append(0xD2)
            out += struct.pack(">i", v)
        else:
            out.append(0xD3)
            out += struct.pack(">q", v)
    elif isinstance(v, float):
        out.append(0xCB)
        out += struct.pack(">d", v)
    elif isinstance(v, str):
        b = v.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += bytes((0xD9, n))
        elif n <= 0xFFFF:
            out.append(0xDA)
            out += struct.pack(">H", n)
        else:
            out.append(0xDB)
            out += struct.pack(">I", n)
        out += b
    elif isinstance(v, (bytes, bytearray)):
        n = len(v)
        if n <= 0xFF:
            out += bytes((0xC4, n))
        elif n <= 0xFFFF:
            out.append(0xC5)
            out += struct.pack(">H", n)
        else:
            out.append(0xC6)
            out += struct.pack(">I", n)
        out += bytes(v)
    elif isinstance(v, datetime):
        # CH DateTime → uint epoch seconds
        pack_value(int(v.replace(tzinfo=timezone.utc).timestamp()), out)
    elif isinstance(v, date):
        # CH Date → uint days since epoch
        pack_value((v - _EPOCH).days, out)
    elif isinstance(v, (list, tuple)):
        n = len(v)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out.append(0xDC)
            out += struct.pack(">H", n)
        else:
            out.append(0xDD)
            out += struct.pack(">I", n)
        for x in v:
            pack_value(x, out)
    elif isinstance(v, dict):
        n = len(v)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out.append(0xDE)
            out += struct.pack(">H", n)
        else:
            out.append(0xDF)
            out += struct.pack(">I", n)
        for k, x in v.items():
            pack_value(k, out)
            pack_value(x, out)
    else:
        raise TypeError(f"msgpack: unsupported python type {type(v).__name__}")


def unpack_value(buf: bytes, pos: int):
    """Decode one MessagePack value at `pos`; returns (value, new_pos)."""
    t = buf[pos]
    pos += 1
    if t <= 0x7F:
        return t, pos
    if t >= 0xE0:
        return t - 0x100, pos
    if 0xA0 <= t <= 0xBF:
        n = t & 0x1F
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if 0x90 <= t <= 0x9F:
        return _unpack_seq(buf, pos, t & 0x0F)
    if 0x80 <= t <= 0x8F:
        return _unpack_map(buf, pos, t & 0x0F)
    if t == 0xC0:
        return None, pos
    if t == 0xC2:
        return False, pos
    if t == 0xC3:
        return True, pos
    if t == 0xCC:
        return buf[pos], pos + 1
    if t == 0xCD:
        return struct.unpack_from(">H", buf, pos)[0], pos + 2
    if t == 0xCE:
        return struct.unpack_from(">I", buf, pos)[0], pos + 4
    if t == 0xCF:
        return struct.unpack_from(">Q", buf, pos)[0], pos + 8
    if t == 0xD0:
        return struct.unpack_from(">b", buf, pos)[0], pos + 1
    if t == 0xD1:
        return struct.unpack_from(">h", buf, pos)[0], pos + 2
    if t == 0xD2:
        return struct.unpack_from(">i", buf, pos)[0], pos + 4
    if t == 0xD3:
        return struct.unpack_from(">q", buf, pos)[0], pos + 8
    if t == 0xCA:
        return struct.unpack_from(">f", buf, pos)[0], pos + 4
    if t == 0xCB:
        return struct.unpack_from(">d", buf, pos)[0], pos + 8
    if t == 0xD9:
        n = buf[pos]
        return buf[pos + 1 : pos + 1 + n].decode("utf-8"), pos + 1 + n
    if t == 0xDA:
        n = struct.unpack_from(">H", buf, pos)[0]
        return buf[pos + 2 : pos + 2 + n].decode("utf-8"), pos + 2 + n
    if t == 0xDB:
        n = struct.unpack_from(">I", buf, pos)[0]
        return buf[pos + 4 : pos + 4 + n].decode("utf-8"), pos + 4 + n
    if t == 0xC4:
        n = buf[pos]
        return bytes(buf[pos + 1 : pos + 1 + n]), pos + 1 + n
    if t == 0xC5:
        n = struct.unpack_from(">H", buf, pos)[0]
        return bytes(buf[pos + 2 : pos + 2 + n]), pos + 2 + n
    if t == 0xC6:
        n = struct.unpack_from(">I", buf, pos)[0]
        return bytes(buf[pos + 4 : pos + 4 + n]), pos + 4 + n
    if t == 0xDC:
        n = struct.unpack_from(">H", buf, pos)[0]
        return _unpack_seq(buf, pos + 2, n)
    if t == 0xDD:
        n = struct.unpack_from(">I", buf, pos)[0]
        return _unpack_seq(buf, pos + 4, n)
    if t == 0xDE:
        n = struct.unpack_from(">H", buf, pos)[0]
        return _unpack_map(buf, pos + 2, n)
    if t == 0xDF:
        n = struct.unpack_from(">I", buf, pos)[0]
        return _unpack_map(buf, pos + 4, n)
    raise ValueError(f"msgpack: unsupported/reserved type byte 0x{t:02x}")


def _unpack_seq(buf: bytes, pos: int, n: int):
    out = []
    for _ in range(n):
        v, pos = unpack_value(buf, pos)
        out.append(v)
    return out, pos


def _unpack_map(buf: bytes, pos: int, n: int):
    out = {}
    for _ in range(n):
        k, pos = unpack_value(buf, pos)
        v, pos = unpack_value(buf, pos)
        out[k] = v
    return out, pos


# ---------------------------------------------------------------------------
# Spark surface.
# ---------------------------------------------------------------------------


def encode_msgpack(rows, schema) -> bytes:
    """FORMAT MsgPack output: the collected rows' values serialized
    consecutively, CH MsgPackRowOutputFormat layout — large results
    should stay parquet."""
    out = bytearray()
    for row in rows:
        for v in row:
            pack_value(v, out)
    return bytes(out)


def read_msgpack(spark: SparkSession, path_glob: str, schema: str) -> DataFrame:
    """FORMAT MsgPack input: decode a directory/glob of MsgPack dumps
    into a DataFrame. `schema` is a Spark DDL string naming the columns
    in serialization order (the reader needs the column count, exactly
    like the reference's MsgPackRowInputFormat needs the target table).
    Decoding runs in EXECUTORS (binaryFile + mapInPandas, one task per
    file)."""
    import pandas as pd
    from pyspark.sql.types import StructType

    files = spark.read.format("binaryFile").load(path_glob).select("content")
    struct_t = StructType.fromDDL(schema)
    names = [f.name for f in struct_t.fields]
    kinds = [f.dataType.simpleString() for f in struct_t.fields]
    n_cols = len(names)

    def _coerce(v, kind: str):
        if v is None:
            return None
        if kind == "date":
            return _EPOCH + timedelta(days=int(v)) if not isinstance(v, date) else v
        if kind == "timestamp":
            if isinstance(v, datetime):
                return v
            return datetime.fromtimestamp(int(v), tz=timezone.utc).replace(tzinfo=None)
        if kind in ("double", "float"):
            return float(v)
        if kind in ("bigint", "int", "smallint", "tinyint"):
            return int(v)
        if kind == "boolean":
            return bool(v)
        if kind == "string":
            return v if isinstance(v, str) else str(v)
        return v

    def decode(it):
        for pdf in it:
            for buf in pdf["content"]:
                b = bytes(buf)
                pos = 0
                rows = []
                while pos < len(b):
                    vals = []
                    for k in range(n_cols):
                        v, pos = unpack_value(b, pos)
                        vals.append(_coerce(v, kinds[k]))
                    rows.append(vals)
                if rows:
                    yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(decode, struct_t)
