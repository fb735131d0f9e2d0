"""FORMAT BSONEachRow — pure-Python BSON row codec (SURVEY §2.1
formats; reference /root/reference/src/Formats/registerFormats.cpp:
53-54,147 BSONEachRow input/output + schema reader, implemented from
the public BSON 1.1 specification, bsonspec.org).

Layout: each row is one standalone BSON document — int32 LE total
size, then elements (type byte, cstring field name, value), then a
0x00 terminator. Type mapping follows the reference's
BSONEachRowRowInputFormat: double↔0x01, string↔0x02, embedded
document↔0x03 (maps/structs), array↔0x04, binary↔0x05(subtype 0),
bool↔0x08, datetime↔0x09 (int64 ms since epoch), null↔0x0A,
int32↔0x10, int64↔0x12.

Tiering matches msgpack_fmt.py: writes encode rows collected on the
driver (`formats.collect` — big results stay parquet); reads decode in
EXECUTORS (binaryFile + mapInPandas, one task per file)."""

from __future__ import annotations

import struct
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

_EPOCH = date(1970, 1, 1)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _enc_cstring(s: str) -> bytes:
    b = s.encode("utf-8")
    if b"\x00" in b:
        raise ValueError("BSON field names cannot contain NUL")
    return b + b"\x00"


def _enc_element(name: str, v) -> bytes:
    n = _enc_cstring(name)
    if v is None:
        return b"\x0a" + n
    if isinstance(v, bool):  # before int — bool is an int subclass
        return b"\x08" + n + (b"\x01" if v else b"\x00")
    if isinstance(v, float):
        return b"\x01" + n + struct.pack("<d", v)
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return b"\x10" + n + struct.pack("<i", v)
        return b"\x12" + n + struct.pack("<q", v)
    if isinstance(v, str):
        b = v.encode("utf-8") + b"\x00"
        return b"\x02" + n + struct.pack("<i", len(b)) + b
    if isinstance(v, (bytes, bytearray)):
        return b"\x05" + n + struct.pack("<i", len(v)) + b"\x00" + bytes(v)
    if isinstance(v, datetime):
        ms = int(v.replace(tzinfo=timezone.utc).timestamp() * 1000)
        return b"\x09" + n + struct.pack("<q", ms)
    if isinstance(v, date):
        ms = (v - _EPOCH).days * 86_400_000
        return b"\x09" + n + struct.pack("<q", ms)
    if isinstance(v, (list, tuple)):
        doc = encode_document({str(i): x for i, x in enumerate(v)})
        return b"\x04" + n + doc
    if isinstance(v, dict):
        return b"\x03" + n + encode_document(v)
    # Row (struct) — duck-typed via asDict
    if hasattr(v, "asDict"):
        return b"\x03" + n + encode_document(v.asDict())
    raise TypeError(f"BSON: unsupported value type {type(v).__name__}")


def encode_document(fields: dict) -> bytes:
    body = b"".join(_enc_element(k, v) for k, v in fields.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _dec_cstring(b: bytes, pos: int) -> tuple[str, int]:
    end = b.index(b"\x00", pos)
    return b[pos:end].decode("utf-8"), end + 1


def _dec_element(b: bytes, pos: int):
    t = b[pos]
    name, pos = _dec_cstring(b, pos + 1)
    if t == 0x0A:
        return name, None, pos
    if t == 0x08:
        return name, b[pos] != 0, pos + 1
    if t == 0x01:
        return name, struct.unpack_from("<d", b, pos)[0], pos + 8
    if t == 0x10:
        return name, struct.unpack_from("<i", b, pos)[0], pos + 4
    if t == 0x12:
        return name, struct.unpack_from("<q", b, pos)[0], pos + 8
    if t == 0x02:
        ln = struct.unpack_from("<i", b, pos)[0]
        s = b[pos + 4:pos + 4 + ln - 1].decode("utf-8")
        return name, s, pos + 4 + ln
    if t == 0x05:
        ln = struct.unpack_from("<i", b, pos)[0]
        return name, bytes(b[pos + 5:pos + 5 + ln]), pos + 5 + ln
    if t == 0x09:
        ms = struct.unpack_from("<q", b, pos)[0]
        return name, datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc
                                            ).replace(tzinfo=None), pos + 8
    if t == 0x03:
        doc, pos = decode_document(b, pos)
        return name, doc, pos
    if t == 0x04:
        doc, pos = decode_document(b, pos)
        return name, [doc[k] for k in sorted(doc, key=int)], pos
    raise ValueError(f"BSON: unsupported element type 0x{t:02x}")


def decode_document(b: bytes, pos: int = 0) -> tuple[dict, int]:
    size = struct.unpack_from("<i", b, pos)[0]
    end = pos + size - 1  # points at the 0x00 terminator
    pos += 4
    out: dict = {}
    while pos < end:
        name, v, pos = _dec_element(b, pos)
        out[name] = v
    if b[end] != 0:
        raise ValueError("BSON: missing document terminator")
    return out, end + 1


# ---------------------------------------------------------------------------
# DataFrame surface
# ---------------------------------------------------------------------------

def encode_bson_each_row(rows, schema) -> bytes:
    """FORMAT BSONEachRow output: one BSON document per collected row,
    concatenated."""
    return b"".join(encode_document(dict(zip(schema.names, row))) for row in rows)


def read_bson_each_row(spark: SparkSession, path_glob: str, schema: str) -> DataFrame:
    """FORMAT BSONEachRow input: decode a directory/glob of BSONEachRow
    dumps. Field names come from each document (the reference's schema
    reader does the same); `schema` (Spark DDL) picks and types the
    output columns. Decoding runs in EXECUTORS."""
    import pandas as pd
    from pyspark.sql.types import StructType

    files = spark.read.format("binaryFile").load(path_glob).select("content")
    struct_t = StructType.fromDDL(schema)
    names = [f.name for f in struct_t.fields]
    kinds = [f.dataType.simpleString() for f in struct_t.fields]

    def _coerce(v, kind: str):
        if v is None:
            return None
        if kind == "date":
            return v.date() if isinstance(v, datetime) else v
        if kind == "timestamp":
            return v
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
                pos, rows = 0, []
                while pos < len(b):
                    doc, pos = decode_document(b, pos)
                    rows.append([_coerce(doc.get(n), k)
                                 for n, k in zip(names, kinds)])
                if rows:
                    yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(decode, struct_t)
