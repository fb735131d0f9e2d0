"""Spark surface of every ClickHouse function a Python UDF backs: one
table, one scaffold.

``UDFS`` holds one row per function: geohash, s2, the h3 geo and
unidirectional-edge families, h3ToChildren, the encoding / checksum /
space-filling-curve long tail, the AES family and Jaro. A row names the
ClickHouse function, the name its UDF is registered under for SQL text
(the ClickHouse name, or a ``ch_*`` shim where chsql rewrites the call
shape), the return DDL, the argument types with how many of them a call
must give (a missing optional argument is a typed NULL), and the kernel
by (module, attribute). Everything Spark-facing is derived from it:

- ``udf(row)``: the row's pandas_udf, built on first use and cached;
- ``column(row)``: the Column function dialect registers for ``ch``;
- ``SQL_UDFS``: (name, factory) pairs session.register_sql_udfs binds;
- ``BY_NAME``: what chsql reads to emit ``sql(CAST(arg AS type), ...)``.

So both doors type the arguments by one rule and share one NULL rule: a
NULL in a required argument gives NULL without reaching the kernel.

A kernel is either a batch function over pandas Series (the vectorized
``_*_fn`` kernels) or, when its name ends in ``_py``, a scalar reference
function that ``_each`` runs row by row: arguments converted by their
type, UInt64 results returned as their BIGINT bit pattern. Kernel
modules are imported only when a row's UDF is first built: h3geo derives
its tables at import, and pandas_udf parses the return DDL against the
active session.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# Argument types. U64 carries a UInt64 id (h3 cell or edge, s2 cell):
# DECIMAL(20,0) holds both the BIGINT two's-complement pattern and an
# unsigned literal past 2**63 exactly, and reaches pandas as Decimals
# with None for NULL (a BIGINT column holding NULLs arrives as float64
# and loses the bits above 2**53).
U64 = "decimal(20,0)"
D, I, L, S, B = "double", "int", "bigint", "string", "binary"
_LATLON = "array<struct<lat: double, lon: double>>"
_LOHI = "struct<lo: bigint, hi: bigint>"
_AES = (S, B, B, B, B)  # mode, input, key, iv, aad
_MASK, _VALS = "array<int>", f"array<{U64}>"  # a curve's range mask and values


class Udf(NamedTuple):
    ch: str  # ClickHouse name (the CH_FUNCTIONS key, case-insensitive)
    sql: str  # name registered for SQL text
    returns: str  # return DDL
    args: tuple[str, ...]  # argument types in call order
    required: int  # leading arguments a call must give; a NULL one gives NULL
    module: str  # kernel module, relative to the package
    kernel: str  # kernel attribute; a *_py one runs per row through _each
    column: Callable | None = None  # Column-side adapter for literal-only arguments


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def _literal_precision(pos: int, name: str):
    """A geohash precision must be a Python int: the kernel reads one
    precision per batch, so a Column would be silently ignored."""

    def adapt(*args):
        if any(not isinstance(p, int) for p in args[pos:]):
            raise ValueError(f"{name}: precision must be a Python int (a Column "
                             "would be silently ignored)")
        return args

    return adapt


def _int_array(vals) -> Column:
    if vals is None:
        return F.lit(None).cast("array<int>")
    return F.array(*[F.lit(int(v)).cast("int") for v in vals])


def _curve_encode(name: str, max_dims: int):
    """mortonEncode / hilbertEncode(a, b, ...) or ((r1, r2, ...), a, b, ...):
    the optional range mask is a literal tuple, as the reference requires."""

    def adapt(*args):
        masked = bool(args) and isinstance(args[0], (tuple, list))
        ratios, vals = (args[0], args[1:]) if masked else (None, args)
        if not 1 <= len(vals) <= max_dims:
            raise ValueError(f"{name} takes 1-{max_dims} arguments")
        if ratios is not None and len(ratios) != len(vals):
            raise ValueError("range mask size must equal the number of arguments")
        return _int_array(ratios), F.array(*[_c(v).cast(U64) for v in vals])

    return adapt


def _curve_decode(name: str, max_dims: int, default: int):
    """mortonDecode / hilbertDecode(n, code) or ((r1, r2, ...), code): the
    literal dimension count or mask fixes the result's arity."""

    def adapt(dims, code):
        ratios = list(dims) if isinstance(dims, (tuple, list)) else [default] * int(dims)
        if not 1 <= len(ratios) <= max_dims:
            raise ValueError(f"{name} takes 1-{max_dims} dimensions")
        return _int_array(ratios), code

    return adapt


def _enc(ch, returns, arg, kernel) -> Udf:
    return Udf(ch, ch, returns, (arg,), 1, "functions.encodings", kernel)


UDFS: list[Udf] = [
    # geohash (geohashEncode.cpp, geohashDecode.cpp, geohashesInBox.cpp)
    Udf("geohashEncode", "geohashEncode", S, (D, D, I), 2, "functions.geohash",
        "_encode_fn", _literal_precision(2, "geohashEncode")),
    Udf("geohashDecode", "geohashDecode", "struct<longitude: double, latitude: double>",
        (S,), 1, "functions.geohash", "_decode_fn"),
    Udf("geohashesInBox", "geohashesInBox", "array<string>", (D, D, D, D, I), 4,
        "functions.geohash", "_boxes_fn", _literal_precision(4, "geohashesInBox")),
    # Jaro / Jaro-Winkler (FunctionsStringDistance.cpp)
    Udf("jaroSimilarity", "jaroSimilarity", D, (S, S), 2, "operators.text", "_jaro_fn"),
    Udf("jaroWinklerSimilarity", "jaroWinklerSimilarity", D, (S, S), 2,
        "operators.text", "_jaro_winkler_fn"),
    # s2 (geoToS2.cpp, s2ToGeo.cpp, s2GetNeighbors.cpp, s2CellsIntersect.cpp,
    # s2Cap*.cpp, s2Rect*.cpp)
    *[Udf(ch, ch, ret, args, len(args), "functions.s2", kernel) for ch, ret, args, kernel in (
        ("geoToS2", L, (D, D), "_geo_to_s2_fn"),
        ("s2ToGeo", "struct<lon: double, lat: double>", (U64,), "_s2_to_geo_fn"),
        ("s2GetNeighbors", "array<bigint>", (U64,), "s2_get_neighbors_py"),
        ("s2CellsIntersect", "boolean", (U64, U64), "_s2_intersect_fn"),
        ("s2CapContains", "boolean", (U64, D, U64), "_s2_cap_contains_fn"),
        ("s2CapUnion", "struct<center: bigint, radius: double>", (U64, D, U64, D),
         "s2_cap_union_py"),
        ("s2RectAdd", _LOHI, (U64, U64, U64), "s2_rect_add_py"),
        ("s2RectContains", "boolean", (U64, U64, U64), "s2_rect_contains_py"),
        ("s2RectUnion", _LOHI, (U64, U64, U64, U64), "s2_rect_union_py"),
        ("s2RectIntersection", _LOHI, (U64, U64, U64, U64), "s2_rect_intersection_py"),
    )],
    # h3 geo projection (geoToH3.cpp keeps the 25.5 LAT_LON argument
    # order; h3ToGeo returns (lat, lon))
    *[Udf(ch, ch, ret, args, len(args), "functions.h3geo", kernel) for ch, ret, args, kernel in (
        ("geoToH3", L, (D, D, I), "geo_to_h3_py"),
        ("h3ToGeo", "struct<lat: double, lon: double>", (U64,), "h3_to_geo_py"),
        ("h3ToGeoBoundary", _LATLON, (U64,), "cell_boundary_py"),
        ("h3kRing", "array<bigint>", (U64, I), "k_ring_sorted_py"),
        ("h3HexRing", "array<bigint>", (U64, I), "hex_ring_sorted_py"),
        ("h3Distance", L, (U64, U64), "grid_distance_py"),
        ("h3IndexesAreNeighbors", "boolean", (U64, U64), "indexes_are_neighbors_py"),
        ("h3GetFaces", "array<int>", (U64,), "get_faces_py"),
        ("h3CellAreaM2", D, (U64,), "cell_area_m2_py"),
        ("h3CellAreaRads2", D, (U64,), "cell_area_rads2_py"),
        ("h3PointDistM", D, (D, D, D, D), "point_dist_m_py"),
        ("h3PointDistKm", D, (D, D, D, D), "point_dist_km_py"),
        ("h3PointDistRads", D, (D, D, D, D), "point_dist_rads_py"),
        ("h3HexAreaM2", D, (I,), "hexagon_area_avg_m2_py"),
        ("h3HexAreaKm2", D, (I,), "hexagon_area_avg_km2_py"),
    )],
    # h3 unidirectional edges and h3Line (h3GetUnidirectionalEdge*.cpp,
    # h3Line.cpp, h3ExactEdgeLength*.cpp)
    *[Udf(ch, ch, ret, args, len(args), "functions.h3edge", kernel) for ch, ret, args, kernel in (
        ("h3GetUnidirectionalEdge", L, (U64, U64), "get_unidirectional_edge_py"),
        ("h3UnidirectionalEdgeIsValid", "boolean", (U64,), "edge_is_valid_py"),
        ("h3GetOriginIndexFromUnidirectionalEdge", L, (U64,), "edge_origin_py"),
        ("h3GetDestinationIndexFromUnidirectionalEdge", L, (U64,), "edge_destination_py"),
        ("h3GetIndexesFromUnidirectionalEdge", "struct<origin: bigint, destination: bigint>",
         (U64,), "edge_cells_py"),
        ("h3GetUnidirectionalEdgesFromHexagon", "array<bigint>", (U64,),
         "edges_from_hexagon_py"),
        ("h3GetUnidirectionalEdgeBoundary", _LATLON, (U64,), "edge_boundary_py"),
        ("h3Line", "array<bigint>", (U64, U64), "h3_line_py"),
        ("h3ExactEdgeLengthRads", D, (U64,), "exact_edge_length_rads_py"),
        ("h3ExactEdgeLengthKm", D, (U64,), "exact_edge_length_km_py"),
        ("h3ExactEdgeLengthM", D, (U64,), "exact_edge_length_m_py"),
    )],
    Udf("h3ToChildren", "h3ToChildren", "array<bigint>", (U64, I), 2, "functions.h3",
        "h3_to_children_py"),
    # encodings, checksums, digests (base58Encode.cpp, base32Encode.cpp,
    # CRC.cpp, FunctionsHashing.h digests, normalizeString.cpp,
    # punycode.cpp, idna.cpp); CRC32IEEE = reflected 0xedb88320, init 0,
    # no xorout (differs from zlib CRC32, which stays JVM-native)
    _enc("base58Encode", S, B, "_b58_encode_fn"),
    _enc("base58Decode", B, S, "_b58_decode_fn"),
    _enc("tryBase58Decode", B, S, "_b58_try_decode_fn"),
    _enc("base32Encode", S, B, "_b32_encode_fn"),
    _enc("base32Decode", B, S, "_b32_decode_fn"),
    _enc("tryBase32Decode", B, S, "_b32_try_decode_fn"),
    _enc("CRC32IEEE", L, B, "_crc32ieee_fn"),
    _enc("CRC64", L, B, "_crc64_fn"),
    _enc("SHA512_256", S, B, "_sha512_256_fn"),
    _enc("RIPEMD160", S, B, "_ripemd160_fn"),
    _enc("keccak256", S, B, "_keccak256_fn"),
    # binary, like the SHA1/SHA224/SHA384 FixedString tier
    _enc("MD4", B, B, "_md4_fn"),
    _enc("BLAKE3", B, B, "_blake3_fn"),
    _enc("normalizeUTF8NFC", S, S, "_nfc_fn"),
    _enc("normalizeUTF8NFD", S, S, "_nfd_fn"),
    _enc("normalizeUTF8NFKC", S, S, "_nfkc_fn"),
    _enc("normalizeUTF8NFKD", S, S, "_nfkd_fn"),
    _enc("punycodeEncode", S, S, "_punycode_encode_fn"),
    _enc("punycodeDecode", S, S, "_punycode_decode_fn"),
    _enc("tryPunycodeDecode", S, S, "_try_punycode_decode_fn"),
    _enc("idnaEncode", S, S, "_idna_encode_fn"),
    _enc("tryIdnaEncode", S, S, "_try_idna_encode_fn"),
    _enc("idnaDecode", S, S, "_idna_decode_fn"),
    Udf("convertCharset", "convertCharset", S, (S, S, S), 3, "functions.encodings",
        "_convert_charset_fn"),
    # bitSlice(s, offset[, length]): a NULL length is unbounded
    Udf("bitSlice", "ch_bitslice", B, (B, L, L), 2, "functions.encodings", "_bitslice_fn"),
    # space-filling curves (mortonEncode.cpp, hilbertEncode.cpp): the
    # range mask goes first (NULL = none), so the encoders NULL-check no
    # argument before the kernel (a NULL value gives NULL there); chsql
    # rewrites the SQL call shape (its literal-mask rewrite) to these shims
    Udf("mortonEncode", "ch_morton_encode", L, (_MASK, _VALS), 0, "functions.encodings",
        "_morton_encode_fn", _curve_encode("mortonEncode", 8)),
    Udf("mortonDecode", "ch_morton_decode", "array<bigint>", (_MASK, U64), 2,
        "functions.encodings", "_morton_decode_fn", _curve_decode("mortonDecode", 8, 1)),
    Udf("hilbertEncode", "ch_hilbert_encode", L, (_MASK, _VALS), 0, "functions.encodings",
        "_hilbert_encode_fn", _curve_encode("hilbertEncode", 2)),
    Udf("hilbertDecode", "ch_hilbert_decode", "array<bigint>", (_MASK, U64), 2,
        "functions.encodings", "_hilbert_decode_fn", _curve_decode("hilbertDecode", 2, 0)),
    # encrypt family (FunctionsAES.h): iv and aad are optional; the MySQL
    # forms take no aad
    Udf("encrypt", "ch_encrypt", B, _AES, 3, "functions.aescrypto", "_encrypt_fn"),
    Udf("decrypt", "ch_decrypt", B, _AES, 3, "functions.aescrypto", "_decrypt_fn"),
    Udf("tryDecrypt", "ch_try_decrypt", B, _AES, 3, "functions.aescrypto", "_try_decrypt_fn"),
    Udf("aes_encrypt_mysql", "ch_aes_encrypt_mysql", B, _AES[:4], 3, "functions.aescrypto",
        "_mysql_encrypt_fn"),
    Udf("aes_decrypt_mysql", "ch_aes_decrypt_mysql", B, _AES[:4], 3, "functions.aescrypto",
        "_mysql_decrypt_fn"),
]
BY_NAME: dict[str, Udf] = {r.ch.lower(): r for r in UDFS}


# ---------------------------------------------------------------------------
# Scaffold
# ---------------------------------------------------------------------------

_M64 = (1 << 64) - 1
_ARG = {U64: lambda v: int(v) & _M64, I: int, D: float}


def _i64(v):
    """A per-row result with every integer as its BIGINT bit pattern
    (through lists and tuples; booleans stay booleans)."""
    if isinstance(v, (bool, np.bool_)):
        return v
    if isinstance(v, (int, np.integer)):
        v = int(v) & _M64
        return v - (1 << 64) if v >> 63 else v
    if isinstance(v, (list, tuple)):
        return type(v)(_i64(x) for x in v)
    return v


def _each(fn, types):
    """A scalar *_py kernel over a batch: every argument converted by its
    type (each is required, so none is NULL here)."""
    conv = [_ARG[t] for t in types]

    def run(*cols):
        return [_i64(fn(*[f(v) for f, v in zip(conv, vals)])) for vals in zip(*cols)]

    return run


def _struct_fields(ddl: str) -> tuple[str, ...]:
    if not ddl.startswith("struct<"):
        return ()
    return tuple(f.split(":")[0].strip() for f in ddl[len("struct<"):-1].split(","))


def _shaped(out, fields):
    """A kernel's output as pandas_udf takes it: a Series, or a DataFrame
    with one column per struct field."""
    if isinstance(out, (pd.Series, pd.DataFrame)):
        return out
    if fields:
        return pd.DataFrame({f: pd.Series([None if r is None else r[i] for r in out],
                                          dtype=object)
                             for i, f in enumerate(fields)})
    return pd.Series(out, dtype=object)


def _spread(part, keep: np.ndarray, fields):
    """The kernel's output over the kept rows, with NULL everywhere else."""

    def spread(s):
        full = np.full(len(keep), None, dtype=object)
        if s is not None:
            full[keep] = s.to_numpy(dtype=object)
        return pd.Series(full, dtype=object)

    if fields:
        return pd.DataFrame({f: spread(None if part is None else part[f]) for f in fields})
    return spread(part)


_UDF_CACHE: dict[str, object] = {}


def udf(row: Udf):
    """The row's pandas_udf: the kernel behind the NULL rule, built on
    first use (the return DDL needs an active session) and cached."""
    if row.sql not in _UDF_CACHE:
        kernel = getattr(importlib.import_module(
            "clickhouse_25_5_3_75_stable_spark." + row.module), row.kernel)
        if row.kernel.endswith("_py"):
            kernel = _each(kernel, row.args)
        fields, required = _struct_fields(row.returns), row.required

        def run(*cols: pd.Series) -> pd.Series:
            null = np.zeros(len(cols[0]), dtype=bool)
            for c in cols[:required]:
                null |= c.isna().to_numpy()
            if not null.any():
                return _shaped(kernel(*cols), fields)
            keep = ~null
            part = None
            if keep.any():
                part = _shaped(kernel(*[c[keep].reset_index(drop=True) for c in cols]),
                               fields)
            return _spread(part, keep, fields)

        run.__name__ = row.sql
        _UDF_CACHE[row.sql] = pandas_udf(run, row.returns)
    return _UDF_CACHE[row.sql]


def arity(row: Udf) -> str:
    n = len(row.args)
    return str(n) if row.required == n else f"{row.required}-{n}"


def column(row: Udf) -> Callable[..., Column]:
    """ch(row.ch, ...): the arguments cast to the row's types, a missing
    optional one as a typed NULL."""

    def call(*args) -> Column:
        if row.column is not None:
            args = row.column(*args)
        if not row.required <= len(args) <= len(row.args):
            raise TypeError(f"{row.ch} takes {arity(row)} arguments, got {len(args)}")
        cols = [_c(a).cast(t) for a, t in zip(args, row.args)]
        cols += [F.lit(None).cast(t) for t in row.args[len(args):]]
        return udf(row)(*cols)

    return call


SQL_UDFS: list[tuple[str, Callable[[], object]]] = [(r.sql, partial(udf, r)) for r in UDFS]
