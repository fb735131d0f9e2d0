"""Spark surface of the exact ClickHouse hash functions: one table, one
scaffold (reference src/Functions/FunctionsHashing.h).

Each exact hash family is fixed by two per-Impl decisions in the
reference: how a POD (non-string) argument widens before it is hashed
(``use_int_hash_for_pods``, and javaHash's own rule) and how the hashes
of several arguments combine (``combineHashes``: :195 / :621 and the
intHash folds). FAMILIES records that decision once per ClickHouse name
and points at the family's numpy batch kernel. The kernels and their
scalar ``*_py`` references (the tests' oracles) live in the algorithm
modules siphash, cityhash, hashes_extra, hashes_extra2 and hashes_extra3.
Everything Spark-facing is derived here:

- the Column API, ``COLUMN_FUNCTIONS`` (dialect registers it for ``ch``);
- the SQL text ch_sql emits, ``sql_expr``, over the pandas UDFs that
  ``SQL_UDFS`` lists for session registration.

POD rules. The argument's Spark type is read with ``typeof()``, which the
optimizer folds to a constant, so one branch survives per column:

- ``raw_le``: the value's little-endian bytes at native width (Int64 8,
  Int32 4, Int16 2, Int8/Bool 1, Date = UInt16 days 2, DateTime = UInt32
  seconds 4, Float64/Float32 their IEEE bits 8/4) through the kernel.
- ``int_hash``: intHash64 of the ZERO-extended bit pattern (bit_cast:
  Int32(-7) -> 0xFFFFFFF9; floats by IEEE bits, base/bit_cast.h); only
  strings reach the kernel.
- ``java``: Int8/16/32 pass through, Int64 folds to (int)(x ^ x >>> 32),
  everything else hashes its string bytes (JavaHashImpl:514).

The SQL intHash64/intHash32 functions SIGN-extend signed integers
instead (FunctionIntHash, :753). Strings hash their UTF-8 bytes; types
with no native encoding (decimal, binary, ...) hash the UTF-8 of their
string rendering, a documented divergence.

Combine rules, left-folded over the per-argument hashes:

- ``hash128to64``: CityHash Hash128to64(uint128(h1, h2)) (:621);
- ``self``: the family kernel over le8(h1) || le8(h2) (:195);
- ``inthash64_xor``: intHash64(h1) ^ h2;
- ``inthash32_xor``: (intHash32(h1) ^ h2) & 0xFFFFFFFF;
- None: not combineable (NOT_IMPLEMENTED in the reference).

Any NULL argument gives NULL (FunctionsHashing.h:869).
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from clickhouse_25_5_3_75_stable_spark.functions.cityhash import (
    _cityhash64_np,
    _np_hash128to64,
    _np_inthash64,
)
from clickhouse_25_5_3_75_stable_spark.functions.hashes_extra import (
    _murmur2_64a_np,
    _murmur3_64_np,
    _murmur3_128_np,
    _np_inthash32,
    _np_jump,
    _xxh64_np,
)
from clickhouse_25_5_3_75_stable_spark.functions.hashes_extra2 import (
    _farm_na_np,
    _farm_xo_np,
    _metro64_np,
    _wyhash_np,
    _xxh3_np,
)
from clickhouse_25_5_3_75_stable_spark.functions.hashes_extra3 import (
    _gcc_np,
    _java_np,
    _kafka_np,
    _murmur2_32_seed0_np,
    _murmur3_32_np,
    _xxh32_np,
    java_hash_utf16le_py,
)
from clickhouse_25_5_3_75_stable_spark.functions.siphash import (
    _siphash64_np,
    _siphash128_np,
    _siphash128_reference_np,
    siphash64_py,
    siphash128_keyed_py,
    siphash128_reference_keyed_py,
)


class Family(NamedTuple):
    kernel: Callable[[list[bytes]], np.ndarray]  # bytes batch -> uint64
    pod: str  # "raw_le" | "int_hash" | "java"
    combine: str | None  # see the module docstring
    result: str = "bigint"  # Spark type of the hash
    mask: int | None = None  # ANDed into every hash


FAMILIES: dict[str, Family] = {
    "sipHash64": Family(_siphash64_np, "raw_le", "self"),
    "cityHash64": Family(_cityhash64_np, "int_hash", "hash128to64"),
    "xxHash64": Family(_xxh64_np, "raw_le", "hash128to64"),
    "murmurHash2_64": Family(_murmur2_64a_np, "raw_le", "inthash64_xor"),
    "murmurHash3_64": Family(_murmur3_64_np, "raw_le", "inthash64_xor"),
    "farmHash64": Family(_farm_xo_np, "int_hash", "hash128to64"),
    "farmFingerprint64": Family(_farm_na_np, "int_hash", "hash128to64"),
    "metroHash64": Family(_metro64_np, "int_hash", "hash128to64"),
    "wyHash64": Family(_wyhash_np, "raw_le", "self"),
    "xxh3": Family(_xxh3_np, "raw_le", "hash128to64"),
    "gccMurmurHash": Family(_gcc_np, "raw_le", "inthash64_xor"),
    "kafkaMurmurHash": Family(_kafka_np, "raw_le", "inthash32_xor"),
    "murmurHash2_32": Family(_murmur2_32_seed0_np, "raw_le", "inthash32_xor"),
    "murmurHash3_32": Family(_murmur3_32_np, "raw_le", "inthash32_xor"),
    "xxHash32": Family(_xxh32_np, "raw_le", "inthash32_xor"),
    "javaHash": Family(_java_np, "java", None, "int"),
    "hiveHash": Family(_java_np, "java", None, "int", 0x7FFFFFFF),
}

# ---------------------------------------------------------------------------
# pandas UDFs (one cache). Every UDF is NULL-safe: Python UDFs inside a
# CASE branch may be evaluated on every row.
# ---------------------------------------------------------------------------

_UDFS: dict = {}


def _cached(key, build):
    if key not in _UDFS:
        _UDFS[key] = build()
    return _UDFS[key]


def _bytes_udf(kernel, result: str = "bigint", key=None):
    """The kernel over each BINARY value; NULL -> NULL."""

    def build():
        np_type, pd_type = (np.int32, "Int32") if result == "int" else (np.int64, "Int64")

        @pandas_udf(result)
        def hash_bytes(s: pd.Series) -> pd.Series:
            null = np.array([v is None for v in s], dtype=bool)
            hashed = kernel([b"" if v is None else bytes(v) for v in s])
            out = pd.array(hashed.view(np.int64).astype(np_type), dtype=pd_type)
            out[null] = pd.NA
            return pd.Series(out, dtype=pd_type)

        return hash_bytes

    return _cached(("bytes", key or kernel, result), build)


def _bytes16_udf(kernel, key=None):
    """A 16-byte-output kernel (list[bytes] -> list[bytes]) over each
    BINARY value; NULL -> NULL."""

    def build():
        @pandas_udf("binary")
        def hash_bytes16(s: pd.Series) -> pd.Series:
            vals = [None if v is None else bytes(v) for v in s]
            hashed = kernel([b"" if v is None else v for v in vals])
            return pd.Series([None if v is None else h for v, h in zip(vals, hashed)])

        return hash_bytes16

    return _cached(("bytes16", key or kernel), build)


def _bits_udf(width: int):
    """IEEE-754 bits of a Float64 (64) / Float32 (32) value as its
    zero-extended UInt64 pattern in a BIGINT. A NULL reads as NaN here;
    callers NULL-wrap."""

    def build():
        @pandas_udf("bigint")
        def float_bits(s: pd.Series) -> pd.Series:
            if width == 64:
                return pd.Series(s.to_numpy(dtype=np.float64).view(np.int64))
            return pd.Series(s.to_numpy(dtype=np.float32).view(np.uint32).astype(np.int64))

        return float_bits

    return _cached(("bits", width), build)


# Arrow hands a pandas UDF a BIGINT column holding NULLs as float64,
# which drops the bits above 2**53 — so integer-input UDFs are called on
# coalesce(x, 0) (_nn) and the caller's NULL fold restores the NULLs.


def _nn(c: Column) -> Column:
    return F.coalesce(c, F.lit(0))


def _nn_sql(x: str) -> str:
    return f"coalesce({x}, 0)"


def _int_series(s: pd.Series, fill: int = 0):
    """(UInt64 values with NULLs as ``fill``, NULL mask) of an integer series."""
    arr = pd.array(s, dtype="Int64")
    return arr.fillna(fill).to_numpy(dtype=np.int64).astype(np.uint64), np.asarray(arr.isna())


def _inthash_udf(bits: int):
    """intHash64 / intHash32 (Common/HashTable/Hash.h) of a BIGINT's
    UInt64 bit pattern; NULL -> NULL."""
    mix = _np_inthash64 if bits == 64 else _np_inthash32

    def build():
        @pandas_udf("bigint")
        def int_hash(s: pd.Series) -> pd.Series:
            vals, null = _int_series(s)
            out = pd.array(mix(vals).astype(np.int64), dtype="Int64")
            out[null] = pd.NA
            return pd.Series(out, dtype="Int64")

        return int_hash

    return _cached(("inthash", bits), build)


def _hash128to64_udf():
    """Hash128to64(uint128(h1, h2)) — the cityHash64-style combine."""

    def build():
        @pandas_udf("bigint")
        def hash128to64(h1: pd.Series, h2: pd.Series) -> pd.Series:
            a, null_a = _int_series(h1)
            b, null_b = _int_series(h2)
            out = pd.array(_np_hash128to64(a, b).astype(np.int64), dtype="Int64")
            out[null_a | null_b] = pd.NA
            return pd.Series(out, dtype="Int64")

        return hash128to64

    return _cached("hash128to64", build)


def _java_utf16_udf():
    def build():
        @pandas_udf("int")
        def java_hash_utf16le(s: pd.Series) -> pd.Series:
            out = [None if v is None else java_hash_utf16le_py(bytes(v)) for v in s]
            return pd.Series(pd.array(out, dtype="Int32"))

        return java_hash_utf16le

    return _cached("java_utf16", build)


def _jump_udf():
    def build():
        @pandas_udf("int")
        def jump_consistent_hash(k: pd.Series, n: pd.Series) -> pd.Series:
            keys, null_k = _int_series(k)
            buckets, null_n = _int_series(n, fill=1)
            out = pd.array(_np_jump(keys, buckets.astype(np.int64)).astype(np.int32),
                           dtype="Int32")
            out[null_k | null_n] = pd.NA
            return pd.Series(out, dtype="Int32")

        return jump_consistent_hash

    return _cached("jump", build)


# ---------------------------------------------------------------------------
# POD encodings. typeof -> (native width in bytes, the value as a BIGINT
# from the argument's STRING rendering: Column builder, SQL text over
# {s}). Every branch starts from the string rendering so it analyzes for
# any input type; the round trip is exact for these types.
# ---------------------------------------------------------------------------

_F64_BITS, _F32_BITS = "ch_f64_bits", "ch_f32_bits"
_INTS = ("bigint", "int", "smallint", "tinyint")  # the signed integer types
_FLOATS = ("double", "float")
_PODS = {
    **{t: (w, lambda s: s.cast("bigint"), "CAST({s} AS BIGINT)")
       for t, w in zip(_INTS, (8, 4, 2, 1))},
    "boolean": (1, lambda s: s.cast("boolean").cast("bigint"),
                "CAST(CAST({s} AS BOOLEAN) AS BIGINT)"),
    "date": (2, lambda s: F.datediff(s.cast("date"), F.lit("1970-01-01")).cast("bigint"),
             "CAST(datediff(CAST({s} AS DATE), DATE'1970-01-01') AS BIGINT)"),
    "timestamp": (4, lambda s: F.unix_timestamp(s.cast("timestamp")),
                  "unix_timestamp(CAST({s} AS TIMESTAMP))"),
    "double": (8, lambda s: _bits_udf(64)(s.cast("double")),
               _F64_BITS + "(CAST({s} AS DOUBLE))"),
    "float": (4, lambda s: _bits_udf(32)(s.cast("float")),
              _F32_BITS + "(CAST({s} AS FLOAT))"),
}


def _le_pattern(n_bytes: int) -> tuple[str, str]:
    """regexp_replace pattern/replacement reversing the byte pairs of a
    2*n_bytes-digit hex string."""
    return "(..)" * n_bytes, "".join(f"${i}" for i in range(n_bytes, 0, -1))


def _le_bytes(col: Column, n_bytes: int) -> Column:
    """The low n_bytes of an integer column as little-endian bytes,
    with JVM expressions only (hex -> reverse byte pairs -> unhex; the
    pairs are reordered as hex because F.reverse casts BINARY to string
    and corrupts non-UTF-8 bytes)."""
    w = 2 * n_bytes
    hx = F.lpad(F.substring(F.hex(col.cast("bigint")), -w, w), w, "0")
    return F.unhex(F.regexp_replace(hx, *_le_pattern(n_bytes)))


def _le_bytes_sql(expr: str, n_bytes: int) -> str:
    w = 2 * n_bytes
    pat, rep = _le_pattern(n_bytes)
    return (f"unhex(regexp_replace(lpad(substring(hex(CAST({expr} AS BIGINT)), -{w}, {w}),"
            f" {w}, '0'), '{pat}', '{rep}'))")


def _mask(n_bytes: int) -> int:
    return (1 << 8 * n_bytes) - 1


def _pod_branches(sign_extend: bool):
    """(typeof, width, Column builder, SQL text, zero-extension mask or
    None) of the POD types a bit pattern exists for. Floats have no
    sign-extended (FunctionIntHash) form."""
    for t, (w, col, sql) in _PODS.items():
        if sign_extend and t in _FLOATS:
            continue
        keep = w == 8 or (sign_extend and t in _INTS)
        yield t, w, col, sql, None if keep else _mask(w)


def _typed_cols(c: Column) -> tuple[Column, Column]:
    return c.cast("string"), F.call_function("typeof", c)


def _case(t: Column, branches, default: Column) -> Column:
    """CASE t WHEN typ THEN value ... ELSE default END."""
    out = None
    for typ, v in branches:
        out = F.when(t == typ, v) if out is None else out.when(t == typ, v)
    return out.otherwise(default)


def _pod_bits(c: Column, sign_extend: bool = False) -> Column:
    """The UInt64 bit pattern of a POD column: ZERO-extended (bit_cast,
    the int_hash rule) or, with ``sign_extend``, the plain integral
    conversion the SQL intHash64/intHash32 functions use."""
    s, t = _typed_cols(c)
    return _case(t, [(typ, col(s) if mask is None else col(s).bitwiseAND(F.lit(mask)))
                     for typ, _w, col, _sql, mask in _pod_branches(sign_extend)],
                 s.cast("bigint"))


def _pod_bits_sql(s: str, t: str, sign_extend: bool) -> str:
    whens = " ".join(
        f"WHEN '{typ}' THEN " + (sql if mask is None else f"({sql}) & {mask}").format(s=s)
        for typ, _w, _col, sql, mask in _pod_branches(sign_extend))
    return f"CASE {t} {whens} ELSE CAST({s} AS BIGINT) END"


def _raw_le_bytes(c: Column, floats: bool = True) -> Column:
    """The raw_le encoding: strings as UTF-8, PODs as native-width LE
    bytes; without ``floats`` Float64/32 take the string rendering (the
    sipHash128 / murmurHash3_128 / halfMD5 surfaces)."""
    s, t = _typed_cols(c)
    utf8 = F.encode(s, "UTF-8")
    return _case(t, [("string", utf8)] + [
        (typ, _le_bytes(col(s), w)) for typ, (w, col, _sql) in _PODS.items()
        if floats or typ not in _FLOATS], utf8)


def _raw_le_sql(s: str, t: str, floats: bool = True) -> str:
    whens = " ".join(
        f"WHEN '{typ}' THEN {_le_bytes_sql(sql.format(s=s), w)}"
        for typ, (w, _col, sql) in _PODS.items() if floats or typ not in _FLOATS)
    utf8 = f"encode({s}, 'utf-8')"
    return f"CASE {t} WHEN 'string' THEN {utf8} {whens} ELSE {utf8} END"


# ---------------------------------------------------------------------------
# Column API: one typed dispatch, one chain with one NULL fold
# ---------------------------------------------------------------------------


def _col(x) -> Column:
    """ch() argument semantics: a Column, else a literal."""
    return x if isinstance(x, Column) else F.lit(x)


def _chain(cols, one: Callable[[Column], Column], combine, result: str) -> Column:
    """Left-fold of the per-argument hashes; NULL if any argument is."""
    cs = [_col(c) for c in cols]
    h = one(cs[0])
    for c in cs[1:]:
        h = combine(h, one(c))
    any_null = functools.reduce(operator.or_, [c.isNull() for c in cs])
    return F.when(any_null, F.lit(None).cast(result)).otherwise(h)


def _java_int64_fold(b: Column) -> Column:
    """Long.hashCode: the low 32 bits of x ^ (x >>> 32), as a signed int."""
    v = b.bitwiseXOR(F.shiftrightunsigned(b, 32))
    return F.shiftright(F.shiftleft(v, 32), 32).cast("int")


def _typed(name: str, c: Column) -> Column:
    """One argument hashed under its family's POD rule."""
    fam = FAMILIES[name]
    s, t = _typed_cols(c)
    udf = _bytes_udf(fam.kernel, fam.result)
    if fam.pod == "raw_le":
        h = udf(_raw_le_bytes(c))
    elif fam.pod == "int_hash":
        h = F.when(t.isin(*_PODS), _inthash_udf(64)(_nn(_pod_bits(c)))).otherwise(
            udf(F.encode(s, "UTF-8")))
    else:
        b = s.cast("bigint")
        h = (F.when(t.isin(*_INTS[1:]), s.cast("int"))
             .when(t == "bigint", _java_int64_fold(b))
             .otherwise(udf(F.encode(s, "UTF-8"))))
    return h if fam.mask is None else h.bitwiseAND(F.lit(fam.mask))


def _combine(name: str, h1: Column, h2: Column) -> Column:
    rule = FAMILIES[name].combine
    if rule == "hash128to64":
        return _hash128to64_udf()(_nn(h1), _nn(h2))
    if rule == "self":
        return _bytes_udf(FAMILIES[name].kernel)(F.concat(_le_bytes(h1, 8), _le_bytes(h2, 8)))
    if rule == "inthash64_xor":
        return _inthash_udf(64)(_nn(h1)).bitwiseXOR(h2)
    return _inthash_udf(32)(_nn(h1)).bitwiseXOR(h2).bitwiseAND(F.lit(0xFFFFFFFF))


def _check_arity(name: str, n_args: int, combineable: bool) -> None:
    if n_args > 1 and not combineable:
        raise ValueError(f"{name} is not combineable for multiple arguments "
                         "(reference NOT_IMPLEMENTED)")


def _hash_columns(name: str, *cols) -> Column:
    """ClickHouse ``name(cols...)`` for a FAMILIES name."""
    fam = FAMILIES[name]
    _check_arity(name, len(cols), fam.combine is not None)
    return _chain(cols, partial(_typed, name), partial(_combine, name), fam.result)


def _int_hash_column(bits: int, c) -> Column:
    """intHash64 / intHash32 over the SIGN-extended integer."""
    return _chain([c], lambda x: _inthash_udf(bits)(_nn(_pod_bits(x, sign_extend=True))),
                  None, "bigint")


def _half_md5_of(b: Column) -> Column:
    """halfMD5 (HalfMD5Impl:240): the first 8 MD5 digest bytes as a
    big-endian UInt64 — JVM expressions only."""
    return F.conv(F.substring(F.md5(b), 1, 16), 16, -10).cast("bigint")


def _half_md5(*cols) -> Column:
    """halfMD5: raw_le encoding without float bits; combine = halfMD5 of
    le8(h1) || le8(h2) (HalfMD5Impl:272)."""
    return _chain(cols, lambda c: _half_md5_of(_raw_le_bytes(c, floats=False)),
                  lambda a, b: _half_md5_of(F.concat(_le_bytes(a, 8), _le_bytes(b, 8))),
                  "bigint")


def _hash128(name: str, kernel, *cols, combineable: bool = True) -> Column:
    """16-byte hashes (sipHash128 / sipHash128Reference /
    murmurHash3_128, FixedString(16) memory layout); combine = the
    kernel over the 32-byte concat of the two hashes."""
    _check_arity(name, len(cols), combineable)
    udf = _bytes16_udf(kernel)
    return _chain(cols, lambda c: udf(_raw_le_bytes(c, floats=False)),
                  lambda a, b: udf(F.concat(a, b)), "binary")


def _keys(key_tuple, name: str) -> tuple[int, int]:
    if not (isinstance(key_tuple, (tuple, list)) and len(key_tuple) == 2):
        raise ValueError(f"{name} needs a literal (k0, k1) tuple")
    return int(key_tuple[0]), int(key_tuple[1])


def _siphash64_keyed(key_tuple, *cols) -> Column:
    """sipHash64Keyed((k0, k1), ...) with literal keys
    (SipHash64KeyedImpl:215); combine = keyed hash of le8(h1) || le8(h2)."""
    k0, k1 = _keys(key_tuple, "sipHash64Keyed")

    def kernel(data):
        return np.array([siphash64_py(d, k0, k1) for d in data], dtype=np.uint64)

    udf = _bytes_udf(kernel, key=("sip64keyed", k0, k1))
    return _chain(cols, lambda c: udf(_raw_le_bytes(c, floats=False)),
                  lambda a, b: udf(F.concat(_le_bytes(a, 8), _le_bytes(b, 8))), "bigint")


def _siphash128_keyed(core, key_tuple, *cols) -> Column:
    """sipHash128Keyed / sipHash128ReferenceKeyed with literal keys
    (FunctionsHashing.h:306,342); combine = keyed hash of the 32-byte
    concat."""
    k0, k1 = _keys(key_tuple, "sipHash128Keyed")
    udf = _bytes16_udf(lambda data: [core(k0, k1, d) for d in data],
                       key=(core.__name__, k0, k1))
    return _chain(cols, lambda c: udf(_raw_le_bytes(c, floats=False)),
                  lambda a, b: udf(F.concat(a, b)), "binary")


def _urlhash(url, level=None) -> Column:
    """URLHash(url[, level]) (URLHashImpl:1520): cityHash64 of the URL
    (or its hierarchy prefix at ``level``) minus one trailing '/', '?'
    or '#'."""
    url = _col(url)
    if level is not None:
        from clickhouse_25_5_3_75_stable_spark.functions.dialect import ch

        url = F.try_element_at(ch("URLHierarchy", url), _col(level).cast("int") + 1)

    def one(u: Column) -> Column:
        trimmed = F.when(u.rlike("[/?#]$"), F.substring(u, 1, F.length(u) - 1)).otherwise(u)
        return _bytes_udf(_cityhash64_np)(F.encode(trimmed, "UTF-8"))

    return _chain([url], one, None, "bigint")


def _java_hash_utf16le(c) -> Column:
    return _chain([c], lambda x: _java_utf16_udf()(F.encode(x.cast("string"), "UTF-16LE")),
                  None, "int")


def _jump_consistent_hash(key, n) -> Column:
    """jumpConsistentHash(key, buckets) — Lamping-Veach over the integer
    key value (jumpConsistentHash.cpp:11)."""
    key, n = _col(key).cast("bigint"), _col(n).cast("bigint")
    return F.when(key.isNull() | n.isNull(), F.lit(None).cast("int")).otherwise(
        _jump_udf()(_nn(key), _nn(n)))


_SIPHASH64_CTYPES = {"int64": 8, "uint64": 8, "int32": 4, "uint32": 4,
                     "int16": 2, "uint16": 2, "int8": 1, "uint8": 1}


def siphash64(col, ctype: str = "string") -> Column:
    """sipHash64 with an explicit native type instead of typeof():
    "string" (UTF-8), "int64"/.../"uint8", "datetime" (UInt32 seconds),
    "date" (UInt16 days) or "binary" (the bytes as-is). A str names a
    column."""
    c = F.col(col) if isinstance(col, str) else col
    if ctype == "string":
        b = F.encode(c.cast("string"), "UTF-8")
    elif ctype in _SIPHASH64_CTYPES:
        b = _le_bytes(c, _SIPHASH64_CTYPES[ctype])
    elif ctype == "datetime":
        b = _le_bytes(F.unix_timestamp(c.cast("timestamp")), 4)
    elif ctype == "date":
        b = _le_bytes(F.datediff(c.cast("date"), F.lit("1970-01-01")), 2)
    elif ctype == "binary":
        b = c
    else:
        raise ValueError(f"siphash64: unsupported ctype {ctype!r}")
    return _bytes_udf(_siphash64_np)(b)


COLUMN_FUNCTIONS: dict[str, Callable[..., Column]] = {
    **{name: partial(_hash_columns, name) for name in FAMILIES},
    "intHash64": partial(_int_hash_column, 64),
    "intHash32": partial(_int_hash_column, 32),
    "halfMD5": _half_md5,
    "sipHash128": partial(_hash128, "sipHash128", _siphash128_np),
    "sipHash128Reference": partial(_hash128, "sipHash128Reference", _siphash128_reference_np),
    "murmurHash3_128": partial(_hash128, "murmurHash3_128", _murmur3_128_np,
                               combineable=False),
    "sipHash64Keyed": _siphash64_keyed,
    "sipHash128Keyed": partial(_siphash128_keyed, siphash128_keyed_py),
    "sipHash128ReferenceKeyed": partial(_siphash128_keyed, siphash128_reference_keyed_py),
    "URLHash": _urlhash,
    "javaHashUTF16LE": _java_hash_utf16le,
    "jumpConsistentHash": _jump_consistent_hash,
}

# ---------------------------------------------------------------------------
# SQL text for ch_sql, over the UDFs registered under these names
# ---------------------------------------------------------------------------


def _bin(name: str) -> str:
    return f"{name}_bin"


SQL_UDFS: list[tuple[str, Callable[[], object]]] = [
    *[(_bin(name), partial(_bytes_udf, fam.kernel, fam.result))
      for name, fam in FAMILIES.items()],
    (_F64_BITS, partial(_bits_udf, 64)),
    (_F32_BITS, partial(_bits_udf, 32)),
    ("ch_inthash64", partial(_inthash_udf, 64)),
    ("ch_inthash32", partial(_inthash_udf, 32)),
    ("ch_hash128to64", _hash128to64_udf),
    (_bin("javaHashUTF16LE"), _java_utf16_udf),
    ("jumpConsistentHash", _jump_udf),
]


def _typed_cols_sql(a: str) -> tuple[str, str]:
    """SQL twin of _typed_cols. typeof() sits in the emitted text itself:
    as a SQL-function parameter it would not fold over a local relation
    (the optimizer evaluates the parameter projection into the relation
    first), and every CASE branch would run."""
    return f"CAST(({a}) AS STRING)", f"typeof(({a}))"


def _typed_sql(name: str, a: str) -> str:
    fam = FAMILIES[name]
    s, t = _typed_cols_sql(a)
    utf8 = f"encode({s}, 'utf-8')"
    if fam.pod == "raw_le":
        h = f"{_bin(name)}({_raw_le_sql(s, t)})"
    elif fam.pod == "int_hash":
        pods = ", ".join(f"'{p}'" for p in _PODS)
        h = (f"CASE WHEN {t} IN ({pods}) THEN ch_inthash64({_nn_sql(_pod_bits_sql(s, t, False))}) "
             f"ELSE {_bin(name)}({utf8}) END")
    else:
        b = f"CAST({s} AS BIGINT)"
        ints = ", ".join(f"'{p}'" for p in _INTS[1:])
        h = (f"CASE WHEN {t} IN ({ints}) THEN CAST({s} AS INT) "
             f"WHEN {t} = 'bigint' THEN CAST(shiftright(shiftleft("
             f"{b} ^ shiftrightunsigned({b}, 32), 32), 32) AS INT) "
             f"ELSE {_bin(name)}({utf8}) END")
    return h if fam.mask is None else f"({h} & {fam.mask})"


def _combine_sql(name: str, h1: str, h2: str) -> str:
    rule = FAMILIES[name].combine
    if rule == "hash128to64":
        return f"ch_hash128to64({_nn_sql(h1)}, {_nn_sql(h2)})"
    if rule == "self":
        return f"{_bin(name)}(concat({_le_bytes_sql(h1, 8)}, {_le_bytes_sql(h2, 8)}))"
    if rule == "inthash64_xor":
        return f"(ch_inthash64({_nn_sql(h1)}) ^ {h2})"
    return f"((ch_inthash32({_nn_sql(h1)}) ^ {h2}) & 4294967295)"


def _chain_sql(args: list[str], one, combine, result: str) -> str:
    h = one(args[0])
    for a in args[1:]:
        h = combine(h, one(a))
    any_null = " OR ".join(f"({a}) IS NULL" for a in args)
    return f"CASE WHEN {any_null} THEN CAST(NULL AS {result}) ELSE {h} END"


def _half_md5_sql(b: str) -> str:
    return f"CAST(conv(substring(md5({b}), 1, 16), 16, -10) AS BIGINT)"


def _urlhash_sql(u: str) -> str:
    trimmed = f"IF(({u}) RLIKE '[/?#]$', substring(({u}), 1, length(({u})) - 1), ({u}))"
    return f"{_bin('cityHash64')}(encode({trimmed}, 'utf-8'))"


def _int_hash_sql(bits: int, a: str) -> str:
    return f"ch_inthash{bits}({_nn_sql(_pod_bits_sql(*_typed_cols_sql(a), True))})"


_SQL_SPECIAL = {
    "intHash64": (partial(_int_hash_sql, 64), None, "BIGINT"),
    "intHash32": (partial(_int_hash_sql, 32), None, "BIGINT"),
    "halfMD5": (lambda a: _half_md5_sql(_raw_le_sql(*_typed_cols_sql(a), floats=False)),
                lambda h1, h2: _half_md5_sql(
                    f"concat({_le_bytes_sql(h1, 8)}, {_le_bytes_sql(h2, 8)})"),
                "BIGINT"),
    "URLHash": (_urlhash_sql, None, "BIGINT"),
    "javaHashUTF16LE": (lambda a: f"{_bin('javaHashUTF16LE')}(encode(({a}), 'UTF-16LE'))",
                        None, "INT"),
}
SQL_NAMES = {n.lower(): n for n in (*FAMILIES, *_SQL_SPECIAL, "jumpConsistentHash")}


def sql_expr(name: str, args: list[str]) -> str | None:
    """Spark SQL text of ClickHouse ``name(args...)`` (case-insensitive
    name, args as SQL text), or None for a form with no SQL spelling
    (URLHash's level argument). Raises ValueError for a multi-argument
    call of a non-combineable hash."""
    name = SQL_NAMES[name.lower()]
    if name == "jumpConsistentHash":
        if len(args) != 2:
            return None
        k, n = (f"CAST(({a}) AS BIGINT)" for a in args)
        return (f"CASE WHEN {k} IS NULL OR {n} IS NULL THEN CAST(NULL AS INT) "
                f"ELSE jumpConsistentHash({_nn_sql(k)}, {_nn_sql(n)}) END")
    if name in FAMILIES:
        fam = FAMILIES[name]
        one, combine = partial(_typed_sql, name), partial(_combine_sql, name)
        combineable, result = fam.combine is not None, fam.result.upper()
    else:
        one, combine, result = _SQL_SPECIAL[name]
        if name == "URLHash" and len(args) == 2:
            return None
        combineable = combine is not None
    _check_arity(name, len(args), combineable)
    return _chain_sql(args, one, combine, result)
