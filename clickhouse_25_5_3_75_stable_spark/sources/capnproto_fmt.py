"""CapnProto format shim (SURVEY §2.1 format long tail).

Reference: CapnProtoRowInputFormat / CapnProtoRowOutputFormat
(/root/reference/src/Processors/Formats/Impl/CapnProtoRowInputFormat.cpp,
registerFormats.cpp CapnProto entries). The reference links the capnp
runtime and reads a stream of framed messages, one message per row,
with the row struct named by ``format_schema='file:Struct'``. No capnp
runtime or compiler exists in this container (TESTDATA.md), so this
module implements the PUBLIC Cap'n Proto encoding spec
(capnproto.org/encoding.html) in pure Python — the same
hand-built-codec tier as msgpack_fmt.py / bson_fmt.py / avro_fmt.py.

Scope (documented subset):
- flat ``struct`` schemas parsed from .capnp text: primitive fields
  (Bool, Int8..64, UInt8..64, Float32/64), Text, Data, and
  List(primitive); numeric/bool default values (spec XOR encoding).
- field offsets computed by the spec's first-fit hole-splitting
  allocation in ordinal (@N) order — the same algorithm the capnp
  compiler uses, unit-tested against hand-derived layouts.
- message framing: [segment count-1][segment sizes][pad][segments],
  single-segment messages, root struct pointer in word 0.
- NOT covered (raise with reason): nested structs, unions, groups,
  enums, generics, far pointers on write (read handles single-segment
  only).

Validation: no capnp binary exists here to cross-check, so exactness
rests on the spec transcription + hand-derived layout vectors +
roundtrips (tests/test_formats.py) — stated honestly, like MsgPack.

Parallelism contract: the unit of read parallelism is the FILE
(binaryFile + mapInPandas decodes each file's message stream in the
executor); the writer encodes rows collected on the driver
(`formats.collect`). Large data should stay parquet.
"""

from __future__ import annotations

import re
import struct as _st

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# lg2 of field size in bits; None = pointer field
_PRIM = {
    "Bool": (0, "bool"),
    "Int8": (3, "i1"), "UInt8": (3, "u1"),
    "Int16": (4, "i2"), "UInt16": (4, "u2"),
    "Int32": (5, "i4"), "UInt32": (5, "u4"),
    "Int64": (6, "i8"), "UInt64": (6, "u8"),
    "Float32": (5, "f4"), "Float64": (6, "f8"),
}
_STRUCT_FMT = {"i1": "<b", "u1": "<B", "i2": "<h", "u2": "<H",
               "i4": "<i", "u4": "<I", "i8": "<q", "u8": "<Q",
               "f4": "<f", "f8": "<d"}
# list element-size code per primitive kind
_LIST_CODE = {"bool": 1, "i1": 2, "u1": 2, "i2": 3, "u2": 3,
              "i4": 4, "u4": 4, "f4": 4, "i8": 5, "u8": 5, "f8": 5}
_CODE_BITS = {1: 1, 2: 8, 3: 16, 4: 32, 5: 64}


class CapnField:
    __slots__ = ("name", "ordinal", "kind", "elem", "offset", "ptr_index",
                 "default")

    def __init__(self, name, ordinal, kind, elem=None, default=None):
        self.name = name
        self.ordinal = ordinal
        self.kind = kind          # 'prim' | 'text' | 'data' | 'list'
        self.elem = elem          # primitive code for kind == 'list'/'prim'
        self.offset = None        # in units of the field's own size (prim)
        self.ptr_index = None     # pointer section slot
        self.default = default


class CapnStruct:
    def __init__(self, name, fields, data_words, ptr_count):
        self.name = name
        self.fields = fields
        self.data_words = data_words
        self.ptr_count = ptr_count


def parse_capnp_schema(text: str, root: str) -> CapnStruct:
    """Parse the flat-struct subset of a .capnp file and lay out field
    offsets with the spec's first-fit hole allocation in @ordinal
    order."""
    m = re.search(
        r"struct\s+" + re.escape(root) + r"\s*\{(.*?)\}", text, re.DOTALL
    )
    if not m:
        raise ValueError(f"CapnProto: struct {root} not found in schema")
    fields = []
    for fm in re.finditer(
        r"(\w+)\s*@(\d+)\s*:\s*([A-Za-z0-9_]+(?:\s*\(\s*[A-Za-z0-9_]+\s*\))?)"
        r"(?:\s*=\s*([^;]+))?;",
        m.group(1),
    ):
        name, ordinal, typ, dflt = fm.groups()
        typ = typ.replace(" ", "")
        if typ in _PRIM:
            default = None
            if dflt is not None:
                default = (dflt.strip() == "true") if typ == "Bool" \
                    else float(dflt) if typ.startswith("Float") else int(dflt, 0)
            fields.append(CapnField(name, int(ordinal), "prim",
                                    _PRIM[typ][1], default))
        elif typ == "Text":
            fields.append(CapnField(name, int(ordinal), "text"))
        elif typ == "Data":
            fields.append(CapnField(name, int(ordinal), "data"))
        elif typ.startswith("List(") and typ.endswith(")"):
            inner = typ[5:-1]
            if inner not in _PRIM:
                raise NotImplementedError(
                    f"CapnProto shim: List({inner}) not in the primitive "
                    "subset (nested structs/unions/enums are out of scope — "
                    "module docstring)")
            fields.append(CapnField(name, int(ordinal), "list",
                                    _PRIM[inner][1]))
        else:
            raise NotImplementedError(
                f"CapnProto shim: field type {typ} outside the documented "
                "subset (flat primitives/Text/Data/List(primitive))")
    fields.sort(key=lambda f: f.ordinal)

    # first-fit hole allocation (the capnp compiler's HoleSet): holes[l]
    # holds ONE available offset in units of 2^l bits; splitting a
    # larger hole leaves exactly one hole of each smaller size
    holes: dict[int, int] = {}
    data_words = 0
    ptr_count = 0
    for f in fields:
        if f.kind in ("text", "data", "list"):
            f.ptr_index = ptr_count
            ptr_count += 1
            continue
        lg = next(c[0] for c in _PRIM.values() if c[1] == f.elem)
        if lg in holes:
            f.offset = holes.pop(lg)
            continue
        bigger = sorted(l for l in holes if l > lg)
        if bigger:
            src = bigger[0]
            off = holes.pop(src)
            # offset converted into this field's units
            f.offset = off << (src - lg)
            # remainder becomes one hole of each size lg..src-1
            for l in range(lg, src):
                holes[l] = (off << (src - l)) + 1
        else:
            f.offset = data_words << (6 - lg)
            for l in range(lg, 6):
                holes[l] = (data_words << (6 - l)) + 1
            data_words += 1
    return CapnStruct(root, fields, data_words, ptr_count)


# ---------------------------------------------------------------------------
# Encoding
# ---------------------------------------------------------------------------


def _xor_default(f: CapnField, v):
    if f.default is None or v is None:
        return v
    if f.elem == "bool":
        return bool(v) != bool(f.default)
    if f.elem in ("f4", "f8"):
        # spec: float defaults XOR the IEEE bit patterns
        fmt = _STRUCT_FMT[f.elem]
        bits = int.from_bytes(_st.pack(fmt, float(v)), "little") ^ \
            int.from_bytes(_st.pack(fmt, float(f.default)), "little")
        return _st.unpack(fmt, bits.to_bytes(_st.calcsize(fmt), "little"))[0]
    return int(v) ^ int(f.default)


def _encode_row(row: dict, sch: CapnStruct) -> bytes:
    data = bytearray(sch.data_words * 8)
    ptrs = [0] * sch.ptr_count
    tail = bytearray()  # heap after the pointer section, word-aligned
    base_words = sch.data_words + sch.ptr_count

    def heap_word_offset():
        return base_words + len(tail) // 8

    for f in sch.fields:
        v = row.get(f.name)
        if f.kind == "prim":
            v = _xor_default(f, v)
            if v is None:
                continue  # encoded default (zero after XOR)
            if f.elem == "bool":
                if v:
                    data[f.offset // 8] |= 1 << (f.offset % 8)
                continue
            fmt = _STRUCT_FMT[f.elem]
            size = _st.calcsize(fmt)
            byte_off = f.offset * size
            if f.elem.startswith("f"):
                data[byte_off:byte_off + size] = _st.pack(fmt, float(v))
            else:
                data[byte_off:byte_off + size] = _st.pack(fmt, int(v))
            continue
        # pointer field
        if v is None:
            continue  # null pointer
        slot = f.ptr_index
        # B-offset: words from the END of this pointer word to the target
        ptr_word_index = sch.data_words + slot
        rel = heap_word_offset() - ptr_word_index - 1
        if f.kind in ("text", "data"):
            payload = (str(v).encode("utf-8") + b"\x00") if f.kind == "text" \
                else bytes(v)
            count = len(payload)
            ptrs[slot] = 1 | ((rel & 0x3FFFFFFF) << 2) | (2 << 32) \
                | ((count & 0x1FFFFFFF) << 35)
            tail.extend(payload)
            tail.extend(b"\x00" * (-len(payload) % 8))
        else:  # list of primitives
            code = _LIST_CODE[f.elem]
            vals = list(v)
            n = len(vals)
            ptrs[slot] = 1 | ((rel & 0x3FFFFFFF) << 2) | (code << 32) \
                | ((n & 0x1FFFFFFF) << 35)
            if f.elem == "bool":
                buf = bytearray((n + 7) // 8)
                for i, b in enumerate(vals):
                    if b:
                        buf[i // 8] |= 1 << (i % 8)
                tail.extend(buf)
            else:
                fmt = _STRUCT_FMT[f.elem][1]
                for b in vals:
                    tail.extend(_st.pack("<" + fmt,
                                         float(b) if f.elem.startswith("f")
                                         else int(b)))
            tail.extend(b"\x00" * (-len(tail) % 8))

    # root struct pointer (word 0): offset 0, data/ptr section sizes
    root_ptr = 0 | (0 << 2) | (sch.data_words << 32) | (sch.ptr_count << 48)
    seg = bytearray()
    seg.extend(_st.pack("<Q", root_ptr))
    seg.extend(data)
    for p in ptrs:
        seg.extend(_st.pack("<Q", p))
    seg.extend(tail)
    # framing: single segment
    frame = _st.pack("<II", 0, len(seg) // 8)
    return frame + bytes(seg)


def _decode_messages(blob: bytes, sch: CapnStruct):
    pos = 0
    n = len(blob)
    out = []
    while pos + 8 <= n:
        seg_cnt = _st.unpack_from("<I", blob, pos)[0] + 1
        sizes = _st.unpack_from("<" + "I" * seg_cnt, blob, pos + 4)
        hdr = 4 + 4 * seg_cnt
        hdr += -hdr % 8
        seg_start = pos + hdr
        if seg_cnt != 1:
            raise NotImplementedError(
                "CapnProto shim reads single-segment messages (far "
                "pointers/multi-segment are out of the documented subset)")
        seg = memoryview(blob)[seg_start:seg_start + sizes[0] * 8]
        out.append(_decode_root(seg, sch))
        pos = seg_start + sizes[0] * 8
    return out


def _decode_root(seg: memoryview, sch: CapnStruct) -> dict:
    ptr = _st.unpack_from("<Q", seg, 0)[0]
    if ptr & 3 != 0:
        raise ValueError("CapnProto: root is not a struct pointer")
    off = (ptr >> 2) & 0x3FFFFFFF
    if off & 0x20000000:
        off -= 0x40000000
    data_words = (ptr >> 32) & 0xFFFF
    ptr_count = (ptr >> 48) & 0xFFFF
    struct_word = 1 + off  # pointer is word 0
    data_off = struct_word * 8
    row = {}
    for f in sch.fields:
        if f.kind == "prim":
            if f.offset is None:
                row[f.name] = None
                continue
            if f.elem == "bool":
                if f.offset // 8 >= data_words * 8:
                    v = False
                else:
                    v = bool(seg[data_off + f.offset // 8] >> (f.offset % 8) & 1)
            else:
                fmt = _STRUCT_FMT[f.elem]
                size = _st.calcsize(fmt)
                byte_off = f.offset * size
                if byte_off + size > data_words * 8:
                    v = 0.0 if f.elem.startswith("f") else 0
                else:
                    v = _st.unpack_from(fmt, seg, data_off + byte_off)[0]
            row[f.name] = _xor_default(f, v)
            continue
        # pointer field
        if f.ptr_index >= ptr_count:
            row[f.name] = None
            continue
        pword = struct_word + data_words + f.ptr_index
        p = _st.unpack_from("<Q", seg, pword * 8)[0]
        if p == 0:
            row[f.name] = None
            continue
        if p & 3 != 1:
            raise ValueError(f"CapnProto: field {f.name}: not a list pointer")
        rel = (p >> 2) & 0x3FFFFFFF
        if rel & 0x20000000:
            rel -= 0x40000000
        code = (p >> 32) & 7
        count = (p >> 35) & 0x1FFFFFFF
        tgt = (pword + 1 + rel) * 8
        if f.kind == "text":
            row[f.name] = bytes(seg[tgt:tgt + count - 1]).decode("utf-8")
        elif f.kind == "data":
            row[f.name] = bytes(seg[tgt:tgt + count])
        else:
            if code != _LIST_CODE[f.elem]:
                raise ValueError(
                    f"CapnProto: field {f.name}: element size code {code} "
                    f"does not match schema type")
            if f.elem == "bool":
                row[f.name] = [bool(seg[tgt + i // 8] >> (i % 8) & 1)
                               for i in range(count)]
            else:
                fmt = _STRUCT_FMT[f.elem]
                size = _st.calcsize(fmt)
                row[f.name] = [
                    _st.unpack_from(fmt, seg, tgt + i * size)[0]
                    for i in range(count)
                ]
    return row


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

_SPARK_TYPE = {"bool": "boolean", "i1": "tinyint", "u1": "smallint",
               "i2": "smallint", "u2": "int", "i4": "int", "u4": "bigint",
               "i8": "bigint", "u8": "decimal(20,0)", "f4": "float",
               "f8": "double"}


def _spark_schema(sch: CapnStruct) -> str:
    parts = []
    for f in sch.fields:
        if f.kind == "prim":
            parts.append(f"{f.name} {_SPARK_TYPE[f.elem]}")
        elif f.kind == "text":
            parts.append(f"{f.name} string")
        elif f.kind == "data":
            parts.append(f"{f.name} binary")
        else:
            parts.append(f"{f.name} array<{_SPARK_TYPE[f.elem]}>")
    return ", ".join(parts)


def read_capnproto(
    spark: SparkSession, path: str, schema_text: str, root: str
) -> DataFrame:
    """Read files of framed CapnProto messages (one message per row —
    the reference's row-format contract) with a .capnp schema. Decode
    runs executor-side per file."""
    sch = parse_capnp_schema(schema_text, root)
    out_schema = _spark_schema(sch)
    names = [f.name for f in sch.fields]
    files = spark.read.format("binaryFile").load(path).select("content")

    def gen(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                rows.extend(_decode_messages(bytes(blob), sch))
            yield pd.DataFrame(rows, columns=names)

    df = files.mapInPandas(gen, schema=out_schema)
    # u8 decode yields python ints beyond int64 range -> decimal cast
    from pyspark.sql.types import StructType

    target = StructType.fromDDL(out_schema)
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                       for f in target.fields])


def encode_capnproto(rows, schema, schema_text: str, root: str) -> bytes:
    """Framed CapnProto messages, one per collected row (parquet is the
    scale path)."""
    sch = parse_capnp_schema(schema_text, root)
    return b"".join(_encode_row(dict(zip(schema.names, row)), sch) for row in rows)
