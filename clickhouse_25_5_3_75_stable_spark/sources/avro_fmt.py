"""Avro format shim (SURVEY §2.1 format long tail).

Reference: AvroRowInputFormat / AvroRowOutputFormat
(/root/reference/src/Processors/Formats/Impl/AvroRowInputFormat.cpp,
registerFormats.cpp Avro entries). The reference links avro-cpp
directly, so Avro works there with no plugin; pip pyspark ships no
spark-avro jar and the sandbox has no network to fetch one
(TESTDATA.md), so this module implements the PUBLIC Avro 1.11 spec —
Object Container Files + the binary encoding — in pure Python, the
same hand-built-codec tier as rowbinary.py / msgpack_fmt.py /
bson_fmt.py. When the spark-avro jar IS on the classpath,
``df.write.format("avro")`` / ``spark.read.format("avro")`` remain the
preferred scale path; this shim makes Avro work everywhere else.

Parallelism contract (same as the other non-splittable shims): the
unit of read parallelism is the FILE — ``binaryFile`` hands each
container file to one task and ``mapInPandas`` decodes there (Avro
blocks inside one file are decoded sequentially; dump many files for
scale). The writer encodes rows collected on the driver
(`formats.collect`); large outputs should stay parquet or use the jar.

Spec coverage: null/boolean/int/long/float/double/bytes/string, record,
array, map, union, enum (→ string), fixed (→ binary); logical types
date (int), timestamp-millis/micros (long), decimal (bytes/fixed).
Codecs: null and deflate (raw zlib, per spec). Snappy would need a
native lib → rejected with a clear error.
"""

from __future__ import annotations

import json
import struct
import zlib
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal
from hashlib import md5

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"
_EPOCH_D = date(1970, 1, 1)
_EPOCH_TS = datetime(1970, 1, 1, tzinfo=timezone.utc)


# ---------------------------------------------------------------------------
# Schema translation (Spark StructType <-> Avro record schema).
# ---------------------------------------------------------------------------


def _spark_to_avro(dt: T.DataType, name: str, nullable: bool):
    if isinstance(dt, T.StructType):
        t = {
            "type": "record",
            "name": name,
            "fields": [
                {
                    "name": f.name,
                    "type": _spark_to_avro(f.dataType, f"{name}_{f.name}", f.nullable),
                }
                for f in dt.fields
            ],
        }
    elif isinstance(dt, T.ArrayType):
        t = {
            "type": "array",
            "items": _spark_to_avro(dt.elementType, f"{name}_item", dt.containsNull),
        }
    elif isinstance(dt, T.MapType):
        t = {
            "type": "map",
            "values": _spark_to_avro(dt.valueType, f"{name}_value", dt.valueContainsNull),
        }
    elif isinstance(dt, T.DecimalType):
        t = {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    elif isinstance(dt, T.DateType):
        t = {"type": "int", "logicalType": "date"}
    elif isinstance(dt, T.TimestampType):
        t = {"type": "long", "logicalType": "timestamp-micros"}
    elif isinstance(dt, T.TimestampNTZType):
        # wall-clock semantics (spark-avro's mapping for NTZ)
        t = {"type": "long", "logicalType": "local-timestamp-micros"}
    elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        t = "int"
    elif isinstance(dt, T.LongType):
        t = "long"
    elif isinstance(dt, T.FloatType):
        t = "float"
    elif isinstance(dt, T.DoubleType):
        t = "double"
    elif isinstance(dt, T.BooleanType):
        t = "boolean"
    elif isinstance(dt, T.BinaryType):
        t = "bytes"
    elif isinstance(dt, T.StringType):
        t = "string"
    else:
        raise ValueError(f"avro shim: unsupported Spark type {dt.simpleString()}")
    if nullable:
        return ["null", t]
    return t


def _avro_type_name(avsc) -> str:
    return avsc["type"] if isinstance(avsc, dict) else avsc


def _avro_to_spark(avsc) -> tuple[T.DataType, bool]:
    """Avro schema node -> (Spark type, nullable)."""
    if isinstance(avsc, list):  # union
        branches = [b for b in avsc if b != "null"]
        nullable = len(branches) != len(avsc)
        if len(branches) != 1:
            # heterogeneous union -> string rendering (CH AvroRowInputFormat
            # also needs a single target column type)
            return T.StringType(), True
        dt, _ = _avro_to_spark(branches[0])
        return dt, nullable
    name = _avro_type_name(avsc)
    logical = avsc.get("logicalType") if isinstance(avsc, dict) else None
    if logical == "date":
        return T.DateType(), False
    if logical in ("timestamp-millis", "timestamp-micros"):
        return T.TimestampType(), False
    if logical in ("local-timestamp-millis", "local-timestamp-micros"):
        return T.TimestampNTZType(), False
    if logical == "decimal":
        return T.DecimalType(avsc.get("precision", 38), avsc.get("scale", 0)), False
    if name == "record":
        fields = []
        for f in avsc["fields"]:
            dt, nul = _avro_to_spark(f["type"])
            fields.append(T.StructField(f["name"], dt, nul))
        return T.StructType(fields), False
    if name == "array":
        dt, nul = _avro_to_spark(avsc["items"])
        return T.ArrayType(dt, nul), False
    if name == "map":
        dt, nul = _avro_to_spark(avsc["values"])
        return T.MapType(T.StringType(), dt, nul), False
    if name == "enum":
        return T.StringType(), False
    if name == "fixed":
        return T.BinaryType(), False
    simple = {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
    }
    if name in simple:
        return simple[name], name == "null"
    raise ValueError(f"avro shim: unsupported Avro type {avsc!r}")


# ---------------------------------------------------------------------------
# Binary encoding (Avro spec: zigzag varints, LE floats, length-prefixed
# bytes, block-encoded arrays/maps).
# ---------------------------------------------------------------------------


def _write_long(n: int, out: bytearray) -> None:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    # zigzag then varint (7-bit little-endian groups)
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_long(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _encode(v, avsc, out: bytearray) -> None:
    if isinstance(avsc, list):  # union: index then value
        if v is None and "null" in avsc:
            _write_long(avsc.index("null"), out)
            return
        for i, branch in enumerate(avsc):
            if branch != "null":
                _write_long(i, out)
                _encode(v, branch, out)
                return
        raise ValueError("avro shim: union with only null branch got a value")
    name = _avro_type_name(avsc)
    logical = avsc.get("logicalType") if isinstance(avsc, dict) else None
    if logical == "date":
        _write_long((v - _EPOCH_D).days, out)
    elif logical in (
        "timestamp-micros",
        "timestamp-millis",
        "local-timestamp-micros",
        "local-timestamp-millis",
    ):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        d = v - _EPOCH_TS
        micros = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
        _write_long(micros if logical.endswith("micros") else micros // 1_000, out)
    elif logical == "decimal":
        unscaled = int(Decimal(v).scaleb(avsc.get("scale", 0)).to_integral_value())
        nbytes = max(1, (unscaled.bit_length() + 8) // 8)
        raw = unscaled.to_bytes(nbytes, "big", signed=True)
        _write_long(len(raw), out)
        out += raw
    elif name == "null":
        pass
    elif name == "boolean":
        out.append(1 if v else 0)
    elif name in ("int", "long"):
        _write_long(int(v), out)
    elif name == "float":
        out += struct.pack("<f", v)
    elif name == "double":
        out += struct.pack("<d", v)
    elif name == "bytes":
        raw = bytes(v)
        _write_long(len(raw), out)
        out += raw
    elif name in ("string", "enum"):
        raw = str(v).encode("utf-8")
        if name == "enum":
            _write_long(avsc["symbols"].index(str(v)), out)
        else:
            _write_long(len(raw), out)
            out += raw
    elif name == "fixed":
        raw = bytes(v)
        if len(raw) != avsc["size"]:
            raise ValueError("avro shim: fixed size mismatch")
        out += raw
    elif name == "record":
        for f in avsc["fields"]:
            _encode(v[f["name"]], f["type"], out)
    elif name == "array":
        if v:
            _write_long(len(v), out)
            for x in v:
                _encode(x, avsc["items"], out)
        _write_long(0, out)
    elif name == "map":
        if v:
            _write_long(len(v), out)
            for k, x in v.items():
                raw = str(k).encode("utf-8")
                _write_long(len(raw), out)
                out += raw
                _encode(x, avsc["values"], out)
        _write_long(0, out)
    else:
        raise ValueError(f"avro shim: cannot encode type {avsc!r}")


def _decode(buf: bytes, pos: int, avsc):
    if isinstance(avsc, list):  # union
        idx, pos = _read_long(buf, pos)
        return _decode(buf, pos, avsc[idx])
    name = _avro_type_name(avsc)
    logical = avsc.get("logicalType") if isinstance(avsc, dict) else None
    if logical == "date":
        days, pos = _read_long(buf, pos)
        return _EPOCH_D + timedelta(days=days), pos
    if logical in (
        "timestamp-micros",
        "timestamp-millis",
        "local-timestamp-micros",
        "local-timestamp-millis",
    ):
        n, pos = _read_long(buf, pos)
        micros = n if logical.endswith("micros") else n * 1_000
        # naive UTC datetime matches Spark's internal timestamp rendering
        ts = _EPOCH_TS + timedelta(microseconds=micros)
        return ts.replace(tzinfo=None), pos
    if logical == "decimal":
        if name == "bytes":
            n, pos = _read_long(buf, pos)
            raw = buf[pos : pos + n]
            pos += n
        else:  # fixed
            raw = buf[pos : pos + avsc["size"]]
            pos += avsc["size"]
        unscaled = int.from_bytes(raw, "big", signed=True)
        return Decimal(unscaled).scaleb(-avsc.get("scale", 0)), pos
    if name == "null":
        return None, pos
    if name == "boolean":
        return buf[pos] != 0, pos + 1
    if name in ("int", "long"):
        return _read_long(buf, pos)
    if name == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if name == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if name == "bytes":
        n, pos = _read_long(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if name == "string":
        n, pos = _read_long(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if name == "enum":
        idx, pos = _read_long(buf, pos)
        return avsc["symbols"][idx], pos
    if name == "fixed":
        n = avsc["size"]
        return bytes(buf[pos : pos + n]), pos + n
    if name == "record":
        out = {}
        for f in avsc["fields"]:
            out[f["name"]], pos = _decode(buf, pos, f["type"])
        return out, pos
    if name == "array":
        items = []
        while True:
            count, pos = _read_long(buf, pos)
            if count == 0:
                return items, pos
            if count < 0:  # block with byte-size prefix
                _, pos = _read_long(buf, pos)
                count = -count
            for _ in range(count):
                v, pos = _decode(buf, pos, avsc["items"])
                items.append(v)
    if name == "map":
        out = {}
        while True:
            count, pos = _read_long(buf, pos)
            if count == 0:
                return out, pos
            if count < 0:
                _, pos = _read_long(buf, pos)
                count = -count
            for _ in range(count):
                n, pos = _read_long(buf, pos)
                k = buf[pos : pos + n].decode("utf-8")
                pos += n
                out[k], pos = _decode(buf, pos, avsc["values"])
    raise ValueError(f"avro shim: cannot decode type {avsc!r}")


# ---------------------------------------------------------------------------
# Object Container File layout.
# ---------------------------------------------------------------------------

_META_SCHEMA = {"type": "map", "values": "bytes"}


def _decode_container(data: bytes):
    """Yield decoded row dicts from one Avro Object Container File."""
    if data[:4] != _MAGIC:
        raise ValueError("avro shim: bad magic (not an Avro container file)")
    meta, pos = _decode(data, 4, _META_SCHEMA)
    avsc = json.loads(meta["avro.schema"])
    codec = (meta.get("avro.codec") or b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(
            f"avro shim: codec {codec!r} needs a native library; "
            "re-write with codec='null' or 'deflate'"
        )
    sync = data[pos : pos + 16]
    pos += 16
    rows = []
    while pos < len(data):
        count, pos = _read_long(data, pos)
        size, pos = _read_long(data, pos)
        payload = data[pos : pos + size]
        pos += size
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        if data[pos : pos + 16] != sync:
            raise ValueError("avro shim: sync marker mismatch (corrupt block)")
        pos += 16
        p = 0
        for _ in range(count):
            row, p = _decode(payload, p, avsc)
            rows.append(row)
    return avsc, rows


def _encode_container(
    rows, avsc, codec: str = "deflate", rows_per_block: int = 4096
) -> bytes:
    schema_json = json.dumps(avsc).encode()
    out = bytearray(_MAGIC)
    _encode(
        {"avro.schema": schema_json, "avro.codec": codec.encode()},
        _META_SCHEMA,
        out,
    )
    sync = md5(schema_json).digest()  # deterministic; spec only needs 16 bytes
    out += sync
    for i in range(0, len(rows), rows_per_block):
        block = bytearray()
        chunk = rows[i : i + rows_per_block]
        for row in chunk:
            _encode(row, avsc, block)
        payload = bytes(block)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw deflate per spec
            payload = c.compress(payload) + c.flush()
        _write_long(len(chunk), out)
        _write_long(len(payload), out)
        out += payload
        out += sync
    if not rows:  # header-only file is still a valid container
        pass
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark surface.
# ---------------------------------------------------------------------------


def encode_avro(rows, schema: T.StructType, codec: str = "deflate") -> bytes:
    """FORMAT Avro output without the spark-avro jar: collected rows as
    one Object Container File — at scale prefer
    ``df.write.format('avro')`` (jar) or parquet."""
    if codec not in ("null", "deflate"):
        raise ValueError("avro shim: supported codecs are 'null' and 'deflate'")
    avsc = _spark_to_avro(schema, "spark_record", nullable=False)
    return _encode_container([dict(zip(schema.names, r)) for r in rows], avsc, codec)


def _peek_schema(path_glob: str) -> dict:
    """Read ONE matched file's header to get the writer schema (local
    filesystem paths; for object stores pass an explicit schema to the
    jar path instead)."""
    import glob as _glob
    import os

    p = path_glob
    for prefix in ("file://",):
        if p.startswith(prefix):
            p = p[len(prefix) :]
    matches = sorted(_glob.glob(p)) or sorted(_glob.glob(os.path.join(p, "*.avro")))
    if not matches:
        raise FileNotFoundError(f"avro shim: no files match {path_glob!r}")
    with open(matches[0], "rb") as fh:
        head = fh.read()
    if head[:4] != _MAGIC:
        raise ValueError("avro shim: bad magic (not an Avro container file)")
    meta, _ = _decode(head, 4, _META_SCHEMA)
    return json.loads(meta["avro.schema"])


def read_avro(spark: SparkSession, path_glob: str) -> DataFrame:
    """FORMAT Avro input without the spark-avro jar. Schema comes from
    the first file's embedded writer schema (header bytes only on the
    driver); decoding runs in EXECUTORS (binaryFile + mapInPandas, one
    task per container file — dump many files for scale)."""
    import pandas as pd

    avsc = _peek_schema(path_glob)
    struct_t, _ = _avro_to_spark(avsc)
    if not isinstance(struct_t, T.StructType):
        raise ValueError("avro shim: top-level schema must be a record")
    names = [f.name for f in struct_t.fields]

    files = spark.read.format("binaryFile").load(path_glob).select("content")

    def decode(it):
        for pdf in it:
            rows: list[tuple] = []
            for content in pdf["content"]:
                _, recs = _decode_container(bytes(content))
                rows.extend(tuple(r[n] for n in names) for r in recs)
            yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(decode, struct_t)
