"""RowBinary and Native format shims (SURVEY §2.1 format long tail).

Reference: RowBinary[WithNamesAndTypes] at /root/reference/src/
Processors/Formats/Impl/BinaryRowInputFormat.cpp (registerFormats.cpp:
40-43) — rows as little-endian fixed-width scalars with LEB128-length
strings; Native at src/Formats/NativeReader.cpp (registerFormats.cpp:
26) — columnar blocks of (n_columns, n_rows, then per column: name,
type, raw column data).

These are MIGRATION shims: a ClickHouse user dumps `FORMAT RowBinary` /
`FORMAT Native` and this module lands it in Spark. Neither format is
splittable (no block index), so the unit of parallelism is the FILE —
`spark.read.format("binaryFile")` hands each file to one task and
``mapInPandas`` decodes there, which is exactly how the reference
parallelizes a directory of dumps. For 100 TB, dump many files (the
reference does per-thread files anyway); a single giant file is a
single task in either engine.

Supported column types (the TPC-H-ish surface): Int8/16/32/64, UInt8/
16/32, Float32/64, String, Date, DateTime. UInt64 decodes per the
typemap mode (functions/typemap.py).
"""

from __future__ import annotations

import struct
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

_FIXED = {
    "Int8": ("b", 1),
    "Int16": ("<h", 2),
    "Int32": ("<i", 4),
    "Int64": ("<q", 8),
    "UInt8": ("B", 1),
    "UInt16": ("<H", 2),
    "UInt32": ("<I", 4),
    "UInt64": ("<Q", 8),
    "Float32": ("<f", 4),
    "Float64": ("<d", 8),
    "Date": ("<H", 2),  # days since epoch
    "DateTime": ("<I", 4),  # seconds since epoch
}

_SPARK_TYPES = {
    "Int8": "tinyint",
    "Int16": "smallint",
    "Int32": "int",
    "Int64": "bigint",
    "UInt8": "smallint",
    "UInt16": "int",
    "UInt32": "bigint",
    "UInt64": "decimal(20,0)",
    "Float32": "float",
    "Float64": "double",
    "String": "string",
    "Date": "date",
    "DateTime": "timestamp",
}


def _read_leb128(buf: bytes, pos: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7


def _write_leb128(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _decode_value(buf: bytes, pos: int, ch_type: str):
    if ch_type == "String":
        ln, pos = _read_leb128(buf, pos)
        return buf[pos : pos + ln].decode("utf-8"), pos + ln
    fmt, width = _FIXED[ch_type]
    (v,) = struct.unpack_from(fmt, buf, pos)
    pos += width
    if ch_type == "Date":
        v = date(1970, 1, 1) + timedelta(days=v)
    elif ch_type == "DateTime":
        v = datetime.fromtimestamp(v, tz=timezone.utc).replace(tzinfo=None)
    return v, pos


def _encode_value(v, ch_type: str) -> bytes:
    if ch_type == "String":
        raw = ("" if v is None else str(v)).encode("utf-8")
        return _write_leb128(len(raw)) + raw
    fmt, _ = _FIXED[ch_type]
    if ch_type == "Date":
        v = (v - date(1970, 1, 1)).days
    elif ch_type == "DateTime":
        v = int(v.replace(tzinfo=timezone.utc).timestamp())
    elif ch_type in ("Float32", "Float64"):
        v = float(v)
    else:
        v = int(v)
    return struct.pack(fmt, v)


# ---------------------------------------------------------------------------
# RowBinary
# ---------------------------------------------------------------------------


def decode_rowbinary(buf: bytes, schema: list[tuple[str, str]]) -> list[tuple]:
    rows = []
    pos = 0
    n = len(buf)
    while pos < n:
        row = []
        for _, ch_type in schema:
            v, pos = _decode_value(buf, pos, ch_type)
            row.append(v)
        rows.append(tuple(row))
    return rows


def encode_rowbinary(rows, schema: list[tuple[str, str]]) -> bytes:
    out = bytearray()
    for row in rows:
        for v, (_, ch_type) in zip(row, schema):
            out += _encode_value(v, ch_type)
    return bytes(out)


_WIRE_TYPES = {  # Spark simpleString -> CH wire type
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "String", "date": "Date", "timestamp": "DateTime",
    "decimal(20,0)": "UInt64",
}


def wire_schema(fields, what: str) -> list[tuple[str, str]]:
    """(name, CH type) of Spark schema fields for the wire codecs;
    `what` names the statement in the error for an unmapped type."""
    out = []
    for f in fields:
        t = f.dataType.simpleString()
        if t not in _WIRE_TYPES:
            raise ValueError(f"{what}: column {f.name} type {t} has no CH "
                             "wire mapping — cast it or use Parquet")
        out.append((f.name, _WIRE_TYPES[t]))
    return out


def _spark_schema(schema: list[tuple[str, str]]) -> str:
    return ", ".join(f"{name} {_SPARK_TYPES[t]}" for name, t in schema)


def read_rowbinary(
    spark: SparkSession, path: str, schema: list[tuple[str, str]]
) -> DataFrame:
    """Directory/glob of RowBinary files → DataFrame. One task per
    file (the format has no split points); decode runs in executors
    via mapInPandas, never on the driver."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("content")
    out_schema = _spark_schema(schema)
    names = [n for n, _ in schema]

    def decode(it):
        for pdf in it:
            for buf in pdf["content"]:
                rows = decode_rowbinary(bytes(buf), schema)
                yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(decode, out_schema)


# ---------------------------------------------------------------------------
# Native (columnar blocks)
# ---------------------------------------------------------------------------


def decode_native(buf: bytes) -> tuple[list[tuple[str, str]], list[tuple]]:
    """Decode all Native blocks in a dump; returns (schema, rows)."""
    pos = 0
    n = len(buf)
    schema: list[tuple[str, str]] = []
    rows: list[tuple] = []
    while pos < n:
        n_cols, pos = _read_leb128(buf, pos)
        n_rows, pos = _read_leb128(buf, pos)
        cols = []
        blk_schema = []
        for _ in range(n_cols):
            ln, pos = _read_leb128(buf, pos)
            name = buf[pos : pos + ln].decode("utf-8")
            pos += ln
            ln, pos = _read_leb128(buf, pos)
            ch_type = buf[pos : pos + ln].decode("utf-8")
            pos += ln
            vals = []
            for _ in range(n_rows):
                v, pos = _decode_value(buf, pos, ch_type)
                vals.append(v)
            cols.append(vals)
            blk_schema.append((name, ch_type))
        if not schema:
            schema = blk_schema
        rows.extend(zip(*cols) if cols else [])
    return schema, rows


def encode_native(
    rows, schema: list[tuple[str, str]], block_rows: int = 65536
) -> bytes:
    out = bytearray()
    rows = list(rows)
    for start in range(0, max(len(rows), 1), block_rows):
        block = rows[start : start + block_rows]
        if not block and start > 0:
            break
        out += _write_leb128(len(schema))
        out += _write_leb128(len(block))
        for ci, (name, ch_type) in enumerate(schema):
            raw_name = name.encode("utf-8")
            out += _write_leb128(len(raw_name)) + raw_name
            raw_t = ch_type.encode("utf-8")
            out += _write_leb128(len(raw_t)) + raw_t
            for row in block:
                out += _encode_value(row[ci], ch_type)
    return bytes(out)


def read_native(
    spark: SparkSession, path: str, schema: list[tuple[str, str]]
) -> DataFrame:
    """Directory/glob of Native dumps → DataFrame (one task per file,
    decoded in executors)."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("content")
    out_schema = _spark_schema(schema)
    names = [n for n, _ in schema]

    def decode(it):
        for pdf in it:
            for buf in pdf["content"]:
                _, rows = decode_native(bytes(buf))
                yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(decode, out_schema)
