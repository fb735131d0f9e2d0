"""Exact farmFingerprint64 / farmHash64 / metroHash64 / wyHash64 / xxh3
— the remaining 64-bit hash long tail (SURVEY §2.8 hashing; round-4
verdict ask #2). Closes the last capability-mapped hash names: after
this module no ClickHouse sharding/sampling expression built on the
64-bit hash family reproduces wrong values.

Reference semantics (/root/reference/src/Functions/FunctionsHashing.h):

- ``farmFingerprint64`` (ImplFarmFingerprint64:628): FarmHash
  ``Fingerprint64`` = farmhashna::Hash64 — the PORTABLE farmhash entry
  (same function BigQuery exposes as FARM_FINGERPRINT). Combine =
  ``Fingerprint(uint128)`` which equals Hash128to64;
  use_int_hash_for_pods=true (cityHash64's POD rule).
- ``farmHash64`` (ImplFarmHash64:640): farmhash ``Hash64``. Upstream
  farmhash CPU-dispatches this symbol at compile time (farmhashte on
  x86-64+SSE4.1, farmhashxo otherwise), so ClickHouse's own farmHash64
  output is platform-dependent (differs between its x86 and aarch64
  builds). We pin the portable dispatch target **farmhashxo::Hash64**
  (= ClickHouse on aarch64 / non-SSE builds). Combine = Hash128to64;
  use_int_hash_for_pods=true.
- ``metroHash64`` (ImplMetroHash64:651): metrohash64_1(key, len, seed=0)
  read as a little-endian UInt64. Combine = Hash128to64;
  use_int_hash_for_pods=true.
- ``wyHash64`` (ImplWyHash64:1722): wyhash(s, len, 0, _wyp) — wyhash
  "final version 3" (the version ClickHouse vendors; validated below).
  Combine = combineHashesFunc = wyhash over the 16-byte LE concat
  (FunctionsHashing.h:195); use_int_hash_for_pods=false (raw LE bytes).
- ``xxh3`` (ImplXXH3:710): XXH3_64bits(s, len) — seedless, default
  secret. Combine = Hash128to64; use_int_hash_for_pods=false.

All algorithms are public: FarmHash (MIT, Geoff Pike), MetroHash
(Apache-2.0, J. Andrew Rogers), wyhash (public domain, Wang Yi),
xxHash/XXH3 (BSD-2, Yann Collet). Validation scope (stronger than the
usual dual-transcription — three of the five have *in-sandbox ground
truth*):

- ``xxh3``: transcribed from the vendored public xxhash-0.8.x header
  (pyarrow ships it) and validated byte-for-byte against the system
  ``libxxhash.so.0.8.1`` C library over every length class 0..10000
  (tests/test_hashes_extra2.py regenerates this check via ctypes when
  the library is present).
- ``farmFingerprint64``: validated byte-for-byte against Guava's
  ``Hashing.farmHashFingerprint64()`` (the JVM transcription of
  farmhashna::Hash64 that ships in Spark's own guava jar) over random
  inputs of length 0..10000 — fixtures checked in.
- ``farmHash64``: lengths <=32 and 97..256 route through the
  Guava-validated farmhashna functions; the xo-only branches (33..96)
  and the uo branch (>256) are dual-transcribed from the published
  farmhash.cc with scalar/numpy cross-validation but have no
  independent in-sandbox anchor — pinned oracle vectors stay <=256.
- ``metroHash64``: reproduces the published metrohash64_1 verification
  vector (63-byte standard key, seed 0 → bytes 658F044F5C730E40, i.e.
  LE value 0x400E735C4F048F65).
- ``wyHash64``: reproduces the seven published wyhash final-3 test
  vectors (seeds 0..6) and the ClickHouse documentation example
  wyHash64('ClickHouse') = 12336419557878201794 — which also pins the
  vendored version to final 3.

NULL hashes to NULL; the Spark surface is functions/hashing.py. Each
family has an imperative Python reference transcription and a
numpy-vectorized batch path (masked block loops across rows), cross-
validated per length class in tests/test_hashes_extra2.py.
"""

from __future__ import annotations

import numpy as np

from clickhouse_25_5_3_75_stable_spark.functions.hashes_extra import (
    _byte_matrix,
    _np_fetch,
    _np_rotl,
)

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1
_U = np.uint64


def _rotr(v: int, s: int) -> int:
    return ((v >> s) | (v << (64 - s))) & _M64


def _rotl(v: int, s: int) -> int:
    return ((v << s) | (v >> (64 - s))) & _M64


def _np_rotr(v, s: int):
    return (v >> _U(s)) | (v << _U(64 - s))


def _np_mulhi64(a, b):
    m32 = _U(0xFFFFFFFF)
    ah, al = a >> _U(32), a & m32
    bh, bl = b >> _U(32), b & m32
    lo_lo = al * bl
    hi_lo = ah * bl
    lo_hi = al * bh
    cross = (lo_lo >> _U(32)) + (hi_lo & m32) + lo_hi
    return (hi_lo >> _U(32)) + (cross >> _U(32)) + ah * bh


def _np_mul128_fold64(a, b):
    return (a * b) ^ _np_mulhi64(a, b)


# ===========================================================================
# FarmHash (public farmhash.cc, MIT): farmhashna::Hash64 (Fingerprint64)
# and farmhashxo::Hash64 (+ farmhashuo for >256) — scalar reference
# ===========================================================================

_FK0 = 0xC3A5C85C97CB3127
_FK1 = 0xB492B66FBE98F273
_FK2 = 0x9AE16A3B2F90404F
_KMUL = 0x9DDFEA08EB382D69  # Hash128to64 / Fingerprint(uint128) multiplier


def _fr64(b, i):
    return int.from_bytes(b[i:i + 8], "little")


def _fr32(b, i):
    return int.from_bytes(b[i:i + 4], "little")


def _smix(v):
    return (v ^ (v >> 47)) & _M64


def _h16_mul(u, v, mul):
    a = ((u ^ v) * mul) & _M64
    a ^= a >> 47
    b = ((v ^ a) * mul) & _M64
    b ^= b >> 47
    return (b * mul) & _M64


def _na_len0to16(s, n):
    if n >= 8:
        mul = (_FK2 + n * 2) & _M64
        a = (_fr64(s, 0) + _FK2) & _M64
        b = _fr64(s, n - 8)
        c = (_rotr(b, 37) * mul + a) & _M64
        d = ((_rotr(a, 25) + b) * mul) & _M64
        return _h16_mul(c, d, mul)
    if n >= 4:
        mul = (_FK2 + n * 2) & _M64
        return _h16_mul((n + (_fr32(s, 0) << 3)) & _M64, _fr32(s, n - 4), mul)
    if n > 0:
        y = (s[0] + (s[n >> 1] << 8)) & _M64
        z = (n + (s[n - 1] << 2)) & _M64
        return (_smix((y * _FK2 ^ z * _FK0) & _M64) * _FK2) & _M64
    return _FK2


def _na_len17to32(s, n):
    mul = (_FK2 + n * 2) & _M64
    a = (_fr64(s, 0) * _FK1) & _M64
    b = _fr64(s, 8)
    c = (_fr64(s, n - 8) * mul) & _M64
    d = (_fr64(s, n - 16) * _FK2) & _M64
    return _h16_mul(
        (_rotr((a + b) & _M64, 43) + _rotr(c, 30) + d) & _M64,
        (a + _rotr((b + _FK2) & _M64, 18) + c) & _M64,
        mul,
    )


def _na_len33to64(s, n):
    mul = (_FK2 + n * 2) & _M64
    a = (_fr64(s, 0) * _FK2) & _M64
    b = _fr64(s, 8)
    c = (_fr64(s, n - 8) * mul) & _M64
    d = (_fr64(s, n - 16) * _FK2) & _M64
    y = (_rotr((a + b) & _M64, 43) + _rotr(c, 30) + d) & _M64
    z = _h16_mul(y, (a + _rotr((b + _FK2) & _M64, 18) + c) & _M64, mul)
    e = (_fr64(s, 16) * mul) & _M64
    f = _fr64(s, 24)
    g = ((y + _fr64(s, n - 32)) * mul) & _M64
    h = ((z + _fr64(s, n - 24)) * mul) & _M64
    return _h16_mul(
        (_rotr((e + f) & _M64, 43) + _rotr(g, 30) + h) & _M64,
        (e + _rotr((f + a) & _M64, 18) + g) & _M64,
        mul,
    )


def _na_weak32(s, i, a, b):
    w, x, y, z = _fr64(s, i), _fr64(s, i + 8), _fr64(s, i + 16), _fr64(s, i + 24)
    a = (a + w) & _M64
    b = _rotr((b + a + z) & _M64, 21)
    c = a
    a = (a + x + y) & _M64
    b = (b + _rotr(a, 44)) & _M64
    return (a + z) & _M64, (b + c) & _M64


def farmhash_na_py(s: bytes) -> int:
    """farmhashna::Hash64 — FarmHash Fingerprint64 (Guava-validated)."""
    n = len(s)
    if n <= 16:
        return _na_len0to16(s, n)
    if n <= 32:
        return _na_len17to32(s, n)
    if n <= 64:
        return _na_len33to64(s, n)
    seed = 81
    x = seed
    y = (seed * _FK1 + 113) & _M64
    z = (_smix((y * _FK2 + 113) & _M64) * _FK2) & _M64
    v0 = v1 = w0 = w1 = 0
    x = (x * _FK2 + _fr64(s, 0)) & _M64
    end = ((n - 1) // 64) * 64
    i = 0
    while True:
        x = (_rotr((x + y + v0 + _fr64(s, i + 8)) & _M64, 37) * _FK1) & _M64
        y = (_rotr((y + v1 + _fr64(s, i + 48)) & _M64, 42) * _FK1) & _M64
        x ^= w1
        y = (y + v0 + _fr64(s, i + 40)) & _M64
        z = (_rotr((z + w0) & _M64, 33) * _FK1) & _M64
        v0, v1 = _na_weak32(s, i, (v1 * _FK1) & _M64, (x + w0) & _M64)
        w0, w1 = _na_weak32(s, i + 32, (z + w1) & _M64, (y + _fr64(s, i + 16)) & _M64)
        z, x = x, z
        i += 64
        if i == end:
            break
    mul = (_FK1 + ((z & 0xFF) << 1)) & _M64
    i = n - 64
    w0 = (w0 + ((n - 1) & 63)) & _M64
    v0 = (v0 + w0) & _M64
    w0 = (w0 + v0) & _M64
    x = (_rotr((x + y + v0 + _fr64(s, i + 8)) & _M64, 37) * mul) & _M64
    y = (_rotr((y + v1 + _fr64(s, i + 48)) & _M64, 42) * mul) & _M64
    x ^= (w1 * 9) & _M64
    y = (y + v0 * 9 + _fr64(s, i + 40)) & _M64
    z = (_rotr((z + w0) & _M64, 33) * mul) & _M64
    v0, v1 = _na_weak32(s, i, (v1 * mul) & _M64, (x + w0) & _M64)
    w0, w1 = _na_weak32(s, i + 32, (z + w1) & _M64, (y + _fr64(s, i + 16)) & _M64)
    z, x = x, z
    return _h16_mul(
        (_h16_mul(v0, w0, mul) + _smix(y) * _FK0 + z) & _M64,
        (_h16_mul(v1, w1, mul) + x) & _M64,
        mul,
    )


def _xo_h32(s, i, ln, mul, seed0=0, seed1=0):
    a = (_fr64(s, i) * _FK1) & _M64
    b = _fr64(s, i + 8)
    c = (_fr64(s, i + ln - 8) * mul) & _M64
    d = (_fr64(s, i + ln - 16) * _FK2) & _M64
    u = (_rotr((a + b) & _M64, 43) + _rotr(c, 30) + d + seed0) & _M64
    v = (a + _rotr((b + _FK2) & _M64, 18) + c + seed1) & _M64
    a = _smix(((u ^ v) * mul) & _M64)
    b = _smix(((v ^ a) * mul) & _M64)
    return b


def _xo_len33to64(s, n):
    mul0 = (_FK2 - 30) & _M64
    mul1 = (_FK2 - 30 + 2 * n) & _M64
    h0 = _xo_h32(s, 0, 32, mul0)
    h1 = _xo_h32(s, n - 32, 32, mul1)
    return (((h1 * mul1) & _M64) + h0) * mul1 & _M64


def _xo_len65to96(s, n):
    mul0 = (_FK2 - 114) & _M64
    mul1 = (_FK2 - 114 + 2 * n) & _M64
    h0 = _xo_h32(s, 0, 32, mul0)
    h1 = _xo_h32(s, 32, 32, mul1)
    h2 = _xo_h32(s, n - 32, 32, mul1, h0, h1)
    return ((h2 * 9 + (h0 >> 17) + (h1 >> 21)) * mul1) & _M64


def _uo_h(x, y, mul, r):
    a = ((x ^ y) * mul) & _M64
    a = _smix(a)
    b = ((y ^ a) * mul) & _M64
    return (_rotr(b, r) * mul) & _M64


def farmhash_uo_py(s: bytes) -> int:
    """farmhashuo::Hash64WithSeeds(s, len, 81, 0) for len > 64 — the
    >256 dispatch target of farmhashxo::Hash64. Dual-transcribed from
    the published farmhash.cc; no in-sandbox anchor (flagged in the
    module docstring)."""
    n = len(s)
    seed0, seed1 = 81, 0
    x = seed0
    y = (seed1 * _FK2 + 113) & _M64
    z = (_smix((y * _FK2) & _M64) * _FK2) & _M64
    v0, v1 = seed0, seed1
    w0, w1 = 0, 0
    u = (x - z) & _M64
    x = (x * _FK2) & _M64
    mul = (_FK2 + (u & 0x82)) & _M64
    end = ((n - 1) // 64) * 64
    i = 0
    while True:
        a0 = _fr64(s, i)
        a1 = _fr64(s, i + 8)
        a2 = _fr64(s, i + 16)
        a3 = _fr64(s, i + 24)
        a4 = _fr64(s, i + 32)
        a5 = _fr64(s, i + 40)
        a6 = _fr64(s, i + 48)
        a7 = _fr64(s, i + 56)
        x = (x + a0 + a1) & _M64
        y = (y + a2) & _M64
        z = (z + a3) & _M64
        v0 = (v0 + a4) & _M64
        v1 = (v1 + a5 + a1) & _M64
        w0 = (w0 + a6) & _M64
        w1 = (w1 + a7) & _M64

        x = _rotr(x, 26)
        x = (x * 9) & _M64
        y = _rotr(y, 29)
        z = (z * mul) & _M64
        v0 = _rotr(v0, 33)
        v1 = _rotr(v1, 30)
        w0 ^= x
        w0 = (w0 * 9) & _M64
        z = _rotr(z, 32)
        z = (z + w1) & _M64
        w1 = (w1 + z) & _M64
        z = (z * 9) & _M64
        u, y = y, u

        z = (z + a0 + a6) & _M64
        v0 = (v0 + a2) & _M64
        v1 = (v1 + a3) & _M64
        w0 = (w0 + a4) & _M64
        w1 = (w1 + a5 + a6) & _M64
        x = (x + a1) & _M64
        y = (y + a7) & _M64

        y = (y + v0) & _M64
        v0 = (v0 + x - y) & _M64
        v1 = (v1 + w0) & _M64
        w0 = (w0 + v1) & _M64
        w1 = (w1 + x - y) & _M64
        x = (x + w1) & _M64
        w1 = _rotr(w1, 34)
        u, z = z, u
        i += 64
        if i == end:
            break
    i = n - 64
    u = (u * 9) & _M64
    v1 = _rotr(v1, 28)
    v0 = _rotr(v0, 20)
    w0 = (w0 + ((n - 1) & 63)) & _M64
    u = (u + y) & _M64
    y = (y + u) & _M64
    x = (_rotr((y - x + v0 + _fr64(s, i + 8)) & _M64, 37) * mul) & _M64
    y = (_rotr((y ^ v1 ^ _fr64(s, i + 48)) & _M64, 42) * mul) & _M64
    x ^= (w1 * 9) & _M64
    y = (y + v0 + _fr64(s, i + 40)) & _M64
    z = (_rotr((z + w0) & _M64, 33) * mul) & _M64
    v0, v1 = _na_weak32(s, i, (v1 * mul) & _M64, (x + w0) & _M64)
    w0, w1 = _na_weak32(s, i + 32, (z + w1) & _M64, (y + _fr64(s, i + 16)) & _M64)
    return _uo_h(
        (_h16_mul(v0 + x, w0 ^ y, mul) + z - u) & _M64,
        _uo_h(v1 + y, (w1 + z) & _M64, _FK2, 30) ^ x,
        _FK2,
        31,
    )


def farmhash_xo_py(s: bytes) -> int:
    """farmhashxo::Hash64 — the portable dispatch of farmhash Hash64
    (ClickHouse farmHash64 on non-SSE4.1 builds)."""
    n = len(s)
    if n <= 16:
        return _na_len0to16(s, n)
    if n <= 32:
        return _na_len17to32(s, n)
    if n <= 64:
        return _xo_len33to64(s, n)
    if n <= 96:
        return _xo_len65to96(s, n)
    if n <= 256:
        return farmhash_na_py(s)
    return farmhash_uo_py(s)


# ===========================================================================
# MetroHash64 variant 1 (public metrohash64.cpp, Apache-2.0) — scalar
# ===========================================================================

_MK0 = 0xC83A91E1
_MK1 = 0x8648DBDB
_MK2 = 0x7BDEC03B
_MK3 = 0x2F5870A5


def metrohash64_1_py(key: bytes, seed: int = 0) -> int:
    n = len(key)
    h = ((seed + _MK2) * _MK0 + n) & _M64
    i = 0
    if n >= 32:
        v = [h, h, h, h]
        while i + 32 <= n:
            v[0] = (v[0] + _fr64(key, i) * _MK0) & _M64
            v[0] = (_rotr(v[0], 29) + v[2]) & _M64
            v[1] = (v[1] + _fr64(key, i + 8) * _MK1) & _M64
            v[1] = (_rotr(v[1], 29) + v[3]) & _M64
            v[2] = (v[2] + _fr64(key, i + 16) * _MK2) & _M64
            v[2] = (_rotr(v[2], 29) + v[0]) & _M64
            v[3] = (v[3] + _fr64(key, i + 24) * _MK3) & _M64
            v[3] = (_rotr(v[3], 29) + v[1]) & _M64
            i += 32
        v[2] ^= (_rotr((((v[0] + v[3]) & _M64) * _MK0 + v[1]) & _M64, 33) * _MK1) & _M64
        v[3] ^= (_rotr((((v[1] + v[2]) & _M64) * _MK1 + v[0]) & _M64, 33) * _MK0) & _M64
        v[0] ^= (_rotr((((v[0] + v[2]) & _M64) * _MK0 + v[3]) & _M64, 33) * _MK1) & _M64
        v[1] ^= (_rotr((((v[1] + v[3]) & _M64) * _MK1 + v[2]) & _M64, 33) * _MK0) & _M64
        h = (h + (v[0] ^ v[1])) & _M64
    if n - i >= 16:
        v0 = (h + _fr64(key, i) * _MK0) & _M64
        i += 8
        v0 = (_rotr(v0, 33) * _MK1) & _M64
        v1 = (h + _fr64(key, i) * _MK1) & _M64
        i += 8
        v1 = (_rotr(v1, 33) * _MK2) & _M64
        v0 ^= (_rotr((v0 * _MK0) & _M64, 35) + v1) & _M64
        v1 ^= (_rotr((v1 * _MK3) & _M64, 35) + v0) & _M64
        h = (h + v1) & _M64
    if n - i >= 8:
        h = (h + _fr64(key, i) * _MK3) & _M64
        i += 8
        h ^= (_rotr(h, 33) * _MK1) & _M64
    if n - i >= 4:
        h = (h + _fr32(key, i) * _MK3) & _M64
        i += 4
        h ^= (_rotr(h, 15) * _MK1) & _M64
    if n - i >= 2:
        h = (h + int.from_bytes(key[i:i + 2], "little") * _MK3) & _M64
        i += 2
        h ^= (_rotr(h, 13) * _MK1) & _M64
    if n - i >= 1:
        h = (h + key[i] * _MK3) & _M64
        h ^= (_rotr(h, 25) * _MK1) & _M64
    h ^= _rotr(h, 33)
    h = (h * _MK0) & _M64
    h ^= _rotr(h, 33)
    return h


# ===========================================================================
# wyhash final version 3 (public domain, Wang Yi) — scalar
# ===========================================================================

_WYP = (0xA0761D6478BD642F, 0xE7037ED1A0B428DB,
        0x8EBC6AF09C88C6E3, 0x589965CC75374CC3)


def _wymix(a, b):
    r = a * b
    return ((r & _M64) ^ (r >> 64)) & _M64


def wyhash_py(key: bytes, seed: int = 0) -> int:
    n = len(key)
    seed ^= _WYP[0]
    if n <= 16:
        if n >= 4:
            a = (_fr32(key, 0) << 32) | _fr32(key, (n >> 3) << 2)
            b = (_fr32(key, n - 4) << 32) | _fr32(key, n - 4 - ((n >> 3) << 2))
        elif n > 0:
            a = (key[0] << 16) | (key[n >> 1] << 8) | key[n - 1]
            b = 0
        else:
            a = b = 0
    else:
        i, p = n, 0
        if i > 48:
            see1 = see2 = seed
            while True:
                seed = _wymix(_fr64(key, p) ^ _WYP[1], _fr64(key, p + 8) ^ seed)
                see1 = _wymix(_fr64(key, p + 16) ^ _WYP[2], _fr64(key, p + 24) ^ see1)
                see2 = _wymix(_fr64(key, p + 32) ^ _WYP[3], _fr64(key, p + 40) ^ see2)
                p += 48
                i -= 48
                if i <= 48:
                    break
            seed ^= see1 ^ see2
        while i > 16:
            seed = _wymix(_fr64(key, p) ^ _WYP[1], _fr64(key, p + 8) ^ seed)
            i -= 16
            p += 16
        a = _fr64(key, p + i - 16)
        b = _fr64(key, p + i - 8)
    return _wymix(_WYP[1] ^ n, _wymix(a ^ _WYP[1], b ^ seed))


def wyhash_combine_py(h1: int, h2: int) -> int:
    """combineHashesFunc<UInt64, ImplWyHash64> — wyhash over the
    16-byte LE concat (FunctionsHashing.h:195,1727)."""
    return wyhash_py(h1.to_bytes(8, "little") + h2.to_bytes(8, "little"))


# ===========================================================================
# XXH3_64bits (public xxHash 0.8.x, BSD-2) — scalar, seedless/default
# secret; transcribed from the vendored header, libxxhash-validated
# ===========================================================================

_KSECRET = bytes([
    0xb8, 0xfe, 0x6c, 0x39, 0x23, 0xa4, 0x4b, 0xbe, 0x7c, 0x01, 0x81, 0x2c,
    0xf7, 0x21, 0xad, 0x1c, 0xde, 0xd4, 0x6d, 0xe9, 0x83, 0x90, 0x97, 0xdb,
    0x72, 0x40, 0xa4, 0xa4, 0xb7, 0xb3, 0x67, 0x1f, 0xcb, 0x79, 0xe6, 0x4e,
    0xcc, 0xc0, 0xe5, 0x78, 0x82, 0x5a, 0xd0, 0x7d, 0xcc, 0xff, 0x72, 0x21,
    0xb8, 0x08, 0x46, 0x74, 0xf7, 0x43, 0x24, 0x8e, 0xe0, 0x35, 0x90, 0xe6,
    0x81, 0x3a, 0x26, 0x4c, 0x3c, 0x28, 0x52, 0xbb, 0x91, 0xc3, 0x00, 0xcb,
    0x88, 0xd0, 0x65, 0x8b, 0x1b, 0x53, 0x2e, 0xa3, 0x71, 0x64, 0x48, 0x97,
    0xa2, 0x0d, 0xf9, 0x4e, 0x38, 0x19, 0xef, 0x46, 0xa9, 0xde, 0xac, 0xd8,
    0xa8, 0xfa, 0x76, 0x3f, 0xe3, 0x9c, 0x34, 0x3f, 0xf9, 0xdc, 0xbb, 0xc7,
    0xc7, 0x0b, 0x4f, 0x1d, 0x8a, 0x51, 0xe0, 0x4b, 0xcd, 0xb4, 0x59, 0x31,
    0xc8, 0x9f, 0x7e, 0xc9, 0xd9, 0x78, 0x73, 0x64, 0xea, 0xc5, 0xac, 0x83,
    0x34, 0xd3, 0xeb, 0xc3, 0xc5, 0x81, 0xa0, 0xff, 0xfa, 0x13, 0x63, 0xeb,
    0x17, 0x0d, 0xdd, 0x51, 0xb7, 0xf0, 0xda, 0x49, 0xd3, 0x16, 0x55, 0x26,
    0x29, 0xd4, 0x68, 0x9e, 0x2b, 0x16, 0xbe, 0x58, 0x7d, 0x47, 0xa1, 0xfc,
    0x8f, 0xf8, 0xb8, 0xd1, 0x7a, 0xd0, 0x31, 0xce, 0x45, 0xcb, 0x3a, 0x8f,
    0x95, 0x16, 0x04, 0x28, 0xaf, 0xd7, 0xfb, 0xca, 0xbb, 0x4b, 0x40, 0x7e,
])

_P32_1 = 0x9E3779B1
_P32_2 = 0x85EBCA77
_P32_3 = 0xC2B2AE3D
_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5
_PMX1 = 0x165667919E3779F9
_PMX2 = 0x9FB21C651E98DF25


def _swap64(v):
    return int.from_bytes((v & _M64).to_bytes(8, "little"), "big")


def _mul128_fold64(a, b):
    p = a * b
    return ((p & _M64) ^ (p >> 64)) & _M64


def _xxh3_avalanche(h):
    h ^= h >> 37
    h = (h * _PMX1) & _M64
    return h ^ (h >> 32)


def _xxh64_avalanche(h):
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    return h ^ (h >> 32)


def _xxh3_rrmxmx(h, ln):
    h ^= _rotl(h, 49) ^ _rotl(h, 24)
    h = (h * _PMX2) & _M64
    h ^= (h >> 35) + ln
    h &= _M64
    h = (h * _PMX2) & _M64
    return h ^ (h >> 28)


def _xxh3_mix16(b, i, soff):
    lo = _fr64(b, i)
    hi = _fr64(b, i + 8)
    return _mul128_fold64(lo ^ _fr64(_KSECRET, soff), hi ^ _fr64(_KSECRET, soff + 8))


def xxh3_64_py(data: bytes) -> int:
    sec = _KSECRET
    n = len(data)
    if n <= 16:
        if n > 8:
            bf1 = _fr64(sec, 24) ^ _fr64(sec, 32)
            bf2 = _fr64(sec, 40) ^ _fr64(sec, 48)
            lo = _fr64(data, 0) ^ bf1
            hi = _fr64(data, n - 8) ^ bf2
            return _xxh3_avalanche(
                (n + _swap64(lo) + hi + _mul128_fold64(lo, hi)) & _M64)
        if n >= 4:
            inp = (_fr32(data, n - 4) + (_fr32(data, 0) << 32)) & _M64
            bf = _fr64(sec, 8) ^ _fr64(sec, 16)
            return _xxh3_rrmxmx(inp ^ bf, n)
        if n:
            comb = ((data[0] << 16) | (data[n >> 1] << 24)
                    | data[n - 1] | (n << 8)) & _M32
            bf = _fr32(sec, 0) ^ _fr32(sec, 4)
            return _xxh64_avalanche(comb ^ bf)
        return _xxh64_avalanche(_fr64(sec, 56) ^ _fr64(sec, 64))
    if n <= 128:
        acc = (n * _P64_1) & _M64
        if n > 32:
            if n > 64:
                if n > 96:
                    acc = (acc + _xxh3_mix16(data, 48, 96)) & _M64
                    acc = (acc + _xxh3_mix16(data, n - 64, 112)) & _M64
                acc = (acc + _xxh3_mix16(data, 32, 64)) & _M64
                acc = (acc + _xxh3_mix16(data, n - 48, 80)) & _M64
            acc = (acc + _xxh3_mix16(data, 16, 32)) & _M64
            acc = (acc + _xxh3_mix16(data, n - 32, 48)) & _M64
        acc = (acc + _xxh3_mix16(data, 0, 0)) & _M64
        acc = (acc + _xxh3_mix16(data, n - 16, 16)) & _M64
        return _xxh3_avalanche(acc)
    if n <= 240:
        acc = (n * _P64_1) & _M64
        for i in range(8):
            acc = (acc + _xxh3_mix16(data, 16 * i, 16 * i)) & _M64
        acc_end = _xxh3_mix16(data, n - 16, 136 - 17)
        acc = _xxh3_avalanche(acc)
        for i in range(8, n // 16):
            acc_end = (acc_end + _xxh3_mix16(data, 16 * i, 16 * (i - 8) + 3)) & _M64
        return _xxh3_avalanche((acc + acc_end) & _M64)
    # long (> 240): 8 accumulators, 64-byte stripes, 1024-byte blocks
    acc = [_P32_3, _P64_1, _P64_2, _P64_3, _P64_4, _P32_2, _P64_5, _P32_1]

    def acc512(off, soff):
        for lane in range(8):
            dv = _fr64(data, off + lane * 8)
            dk = dv ^ _fr64(sec, soff + lane * 8)
            acc[lane ^ 1] = (acc[lane ^ 1] + dv) & _M64
            acc[lane] = (acc[lane] + (dk & _M32) * (dk >> 32)) & _M64

    nb_blocks = (n - 1) // 1024
    for b in range(nb_blocks):
        for st in range(16):
            acc512(b * 1024 + st * 64, st * 8)
        for lane in range(8):
            a = acc[lane]
            a ^= a >> 47
            a ^= _fr64(sec, 128 + lane * 8)
            acc[lane] = (a * _P32_1) & _M64
    for st in range(((n - 1) - 1024 * nb_blocks) // 64):
        acc512(nb_blocks * 1024 + st * 64, st * 8)
    acc512(n - 64, 192 - 64 - 7)
    result = (n * _P64_1) & _M64
    for i in range(4):
        result = (result + _mul128_fold64(
            acc[2 * i] ^ _fr64(sec, 11 + 16 * i),
            acc[2 * i + 1] ^ _fr64(sec, 19 + 16 * i))) & _M64
    return _xxh3_avalanche(result)


# ===========================================================================
# numpy-vectorized batch paths (masked block loops across rows)
# ===========================================================================

def _np_h16_mul(u, v, mul):
    a = (u ^ v) * mul
    a = a ^ (a >> _U(47))
    b = (v ^ a) * mul
    b = b ^ (b >> _U(47))
    return b * mul


def _np_smix(v):
    return v ^ (v >> _U(47))


def _farm_na_short_np(buf, lens, rows):
    """Vectorized farmhashna for rows with len <= 64 (no loops)."""
    n = lens.astype(np.uint64)
    k0, k1, k2 = _U(_FK0), _U(_FK1), _U(_FK2)
    nr = len(rows)
    offs0 = np.zeros(nr, dtype=np.int64)
    out = np.full(nr, _U(_FK2), dtype=np.uint64)

    # 1..3
    m = (lens >= 1) & (lens <= 3)
    if m.any():
        a = buf[rows, 0].astype(np.uint64)
        b = buf[rows, np.maximum(lens, 0) >> 1].astype(np.uint64)
        c = buf[rows, np.maximum(lens - 1, 0)].astype(np.uint64)
        y = a + (b << _U(8))
        z = n + (c << _U(2))
        out = np.where(m, _np_smix((y * k2) ^ (z * k0)) * k2, out)

    # 4..7
    m = (lens >= 4) & (lens <= 7)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 4)
        b = _np_fetch(buf, rows, np.maximum(lens - 4, 0), 4)
        out = np.where(m, _np_h16_mul(n + (a << _U(3)), b, mul), out)

    # 8..16
    m = (lens >= 8) & (lens <= 16)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 8) + k2
        b = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8)
        c = _np_rotr(b, 37) * mul + a
        d = (_np_rotr(a, 25) + b) * mul
        out = np.where(m, _np_h16_mul(c, d, mul), out)

    # 17..32
    m = (lens >= 17) & (lens <= 32)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 8) * k1
        b = _np_fetch(buf, rows, offs0 + 8, 8)
        c = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8) * mul
        d = _np_fetch(buf, rows, np.maximum(lens - 16, 0), 8) * k2
        out = np.where(
            m,
            _np_h16_mul(_np_rotr(a + b, 43) + _np_rotr(c, 30) + d,
                        a + _np_rotr(b + k2, 18) + c, mul),
            out,
        )

    # 33..64
    m = (lens >= 33) & (lens <= 64)
    if m.any():
        mul = k2 + n * _U(2)
        a = _np_fetch(buf, rows, offs0, 8) * k2
        b = _np_fetch(buf, rows, offs0 + 8, 8)
        c = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8) * mul
        d = _np_fetch(buf, rows, np.maximum(lens - 16, 0), 8) * k2
        y = _np_rotr(a + b, 43) + _np_rotr(c, 30) + d
        z = _np_h16_mul(y, a + _np_rotr(b + k2, 18) + c, mul)
        e = _np_fetch(buf, rows, offs0 + 16, 8) * mul
        f = _np_fetch(buf, rows, offs0 + 24, 8)
        g = (y + _np_fetch(buf, rows, np.maximum(lens - 32, 0), 8)) * mul
        h = (z + _np_fetch(buf, rows, np.maximum(lens - 24, 0), 8)) * mul
        out = np.where(
            m,
            _np_h16_mul(_np_rotr(e + f, 43) + _np_rotr(g, 30) + h,
                        e + _np_rotr(f + a, 18) + g, mul),
            out,
        )
    return out


def _np_weak32(buf, rows, offs, a, b):
    w = _np_fetch(buf, rows, offs, 8)
    x = _np_fetch(buf, rows, offs + 8, 8)
    y = _np_fetch(buf, rows, offs + 16, 8)
    z = _np_fetch(buf, rows, offs + 24, 8)
    a = a + w
    b = _np_rotr(b + a + z, 21)
    c = a.copy()
    a = a + x + y
    b = b + _np_rotr(a, 44)
    return a + z, b + c


def _farm_na_long_np(buf, lens, rows):
    """Vectorized farmhashna for rows with len > 64 (masked 64B loop)."""
    nr = len(rows)
    k0, k1, k2 = _U(_FK0), _U(_FK1), _U(_FK2)
    x = np.full(nr, _U(81), dtype=np.uint64)
    y = (x * k1 + _U(113))
    z = _np_smix(y * k2 + _U(113)) * k2
    v0 = np.zeros(nr, dtype=np.uint64)
    v1 = np.zeros(nr, dtype=np.uint64)
    w0 = np.zeros(nr, dtype=np.uint64)
    w1 = np.zeros(nr, dtype=np.uint64)
    x = x * k2 + _np_fetch(buf, rows, np.zeros(nr, dtype=np.int64), 8)
    end = ((lens - 1) // 64) * 64
    pos = np.zeros(nr, dtype=np.int64)
    for _ in range(int(end.max(initial=0) // 64)):
        active = pos < end
        if not active.any():
            break
        p = np.where(active, pos, 0)
        nx = _np_rotr(x + y + v0 + _np_fetch(buf, rows, p + 8, 8), 37) * k1
        ny = _np_rotr(y + v1 + _np_fetch(buf, rows, p + 48, 8), 42) * k1
        nx = nx ^ w1
        ny = ny + v0 + _np_fetch(buf, rows, p + 40, 8)
        nz = _np_rotr(z + w0, 33) * k1
        nv0, nv1 = _np_weak32(buf, rows, p, v1 * k1, nx + w0)
        nw0, nw1 = _np_weak32(buf, rows, p + 32, nz + w1,
                              ny + _np_fetch(buf, rows, p + 16, 8))
        x = np.where(active, nz, x)  # swapped
        z = np.where(active, nx, z)
        y = np.where(active, ny, y)
        v0 = np.where(active, nv0, v0)
        v1 = np.where(active, nv1, v1)
        w0 = np.where(active, nw0, w0)
        w1 = np.where(active, nw1, w1)
        pos = np.where(active, pos + 64, pos)
    mul = k1 + ((z & _U(0xFF)) << _U(1))
    last = np.maximum(lens - 64, 0)
    w0 = w0 + ((lens - 1) & 63).astype(np.uint64)
    v0 = v0 + w0
    w0 = w0 + v0
    x = _np_rotr(x + y + v0 + _np_fetch(buf, rows, last + 8, 8), 37) * mul
    y = _np_rotr(y + v1 + _np_fetch(buf, rows, last + 48, 8), 42) * mul
    x = x ^ (w1 * _U(9))
    y = y + v0 * _U(9) + _np_fetch(buf, rows, last + 40, 8)
    z = _np_rotr(z + w0, 33) * mul
    v0, v1 = _np_weak32(buf, rows, last, v1 * mul, x + w0)
    w0, w1 = _np_weak32(buf, rows, last + 32, z + w1,
                        y + _np_fetch(buf, rows, last + 16, 8))
    z, x = x.copy(), z.copy()
    return _np_h16_mul(_np_h16_mul(v0, w0, mul) + _np_smix(y) * k0 + z,
                       _np_h16_mul(v1, w1, mul) + x, mul)


def _farm_na_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    rows = np.arange(len(data))
    out = np.zeros(len(data), dtype=np.uint64)
    short = lens <= 64
    if short.any():
        idx = rows[short]
        out[idx] = _farm_na_short_np(buf, lens[short], idx)
    if (~short).any():
        idx = rows[~short]
        out[idx] = _farm_na_long_np(buf, lens[~short], idx)
    return out


def _np_xo_h32(buf, rows, offs, mul, seed0=None, seed1=None):
    k1, k2 = _U(_FK1), _U(_FK2)
    a = _np_fetch(buf, rows, offs, 8) * k1
    b = _np_fetch(buf, rows, offs + 8, 8)
    c = _np_fetch(buf, rows, offs + 24, 8) * mul
    d = _np_fetch(buf, rows, offs + 16, 8) * k2
    u = _np_rotr(a + b, 43) + _np_rotr(c, 30) + d
    v = a + _np_rotr(b + k2, 18) + c
    if seed0 is not None:
        u = u + seed0
    if seed1 is not None:
        v = v + seed1
    a = _np_smix((u ^ v) * mul)
    return _np_smix((v ^ a) * mul)


def _farm_uo_long_np(buf, lens, rows):
    """Vectorized farmhashuo::Hash64WithSeeds(..., 81, 0), len > 64."""
    nr = len(rows)
    k2 = _U(_FK2)
    x = np.full(nr, _U(81), dtype=np.uint64)
    y = np.full(nr, _U(113), dtype=np.uint64)  # seed1*k2 + 113, seed1=0
    z = _np_smix(y * k2) * k2
    v0 = np.full(nr, _U(81), dtype=np.uint64)
    v1 = np.zeros(nr, dtype=np.uint64)
    w0 = np.zeros(nr, dtype=np.uint64)
    w1 = np.zeros(nr, dtype=np.uint64)
    u = x - z
    x = x * k2
    mul = k2 + (u & _U(0x82))
    end = ((lens - 1) // 64) * 64
    pos = np.zeros(nr, dtype=np.int64)
    for _ in range(int(end.max(initial=0) // 64)):
        active = pos < end
        if not active.any():
            break
        p = np.where(active, pos, 0)
        a0 = _np_fetch(buf, rows, p, 8)
        a1 = _np_fetch(buf, rows, p + 8, 8)
        a2 = _np_fetch(buf, rows, p + 16, 8)
        a3 = _np_fetch(buf, rows, p + 24, 8)
        a4 = _np_fetch(buf, rows, p + 32, 8)
        a5 = _np_fetch(buf, rows, p + 40, 8)
        a6 = _np_fetch(buf, rows, p + 48, 8)
        a7 = _np_fetch(buf, rows, p + 56, 8)
        nx = x + a0 + a1
        ny = y + a2
        nz = z + a3
        nv0 = v0 + a4
        nv1 = v1 + a5 + a1
        nw0 = w0 + a6
        nw1 = w1 + a7
        nx = _np_rotr(nx, 26) * _U(9)
        ny = _np_rotr(ny, 29)
        nz = nz * mul
        nv0 = _np_rotr(nv0, 33)
        nv1 = _np_rotr(nv1, 30)
        nw0 = (nw0 ^ nx) * _U(9)
        nz = _np_rotr(nz, 32) + nw1
        nw1 = nw1 + nz
        nz = nz * _U(9)
        nu, ny = ny.copy(), u.copy()  # swap(u, y)
        nz = nz + a0 + a6
        nv0 = nv0 + a2
        nv1 = nv1 + a3
        nw0 = nw0 + a4
        nw1 = nw1 + a5 + a6
        nx = nx + a1
        ny = ny + a7
        ny = ny + nv0
        nv0 = nv0 + nx - ny
        nv1 = nv1 + nw0
        nw0 = nw0 + nv1
        nw1 = nw1 + nx - ny
        nx = nx + nw1
        nw1 = _np_rotr(nw1, 34)
        nu, nz = nz.copy(), nu.copy()  # swap(u, z)
        x = np.where(active, nx, x)
        y = np.where(active, ny, y)
        z = np.where(active, nz, z)
        u = np.where(active, nu, u)
        v0 = np.where(active, nv0, v0)
        v1 = np.where(active, nv1, v1)
        w0 = np.where(active, nw0, w0)
        w1 = np.where(active, nw1, w1)
        pos = np.where(active, pos + 64, pos)
    last = np.maximum(lens - 64, 0)
    u = u * _U(9)
    v1 = _np_rotr(v1, 28)
    v0 = _np_rotr(v0, 20)
    w0 = w0 + ((lens - 1) & 63).astype(np.uint64)
    u = u + y
    y = y + u
    x = _np_rotr(y - x + v0 + _np_fetch(buf, rows, last + 8, 8), 37) * mul
    y = _np_rotr(y ^ v1 ^ _np_fetch(buf, rows, last + 48, 8), 42) * mul
    x = x ^ (w1 * _U(9))
    y = y + v0 + _np_fetch(buf, rows, last + 40, 8)
    z = _np_rotr(z + w0, 33) * mul
    v0, v1 = _np_weak32(buf, rows, last, v1 * mul, x + w0)
    w0, w1 = _np_weak32(buf, rows, last + 32, z + w1,
                        y + _np_fetch(buf, rows, last + 16, 8))

    def uo_h(xx, yy, mm, r):
        a = _np_smix((xx ^ yy) * mm)
        b = (yy ^ a) * mm
        return _np_rotr(b, r) * mm

    return uo_h(_np_h16_mul(v0 + x, w0 ^ y, mul) + z - u,
                uo_h(v1 + y, w1 + z, k2, 30) ^ x, k2, 31)


def _farm_xo_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    rows = np.arange(len(data))
    out = np.zeros(len(data), dtype=np.uint64)
    k2 = _U(_FK2)

    m = lens <= 32
    if m.any():
        idx = rows[m]
        out[idx] = _farm_na_short_np(buf, lens[m], idx)

    m = (lens >= 33) & (lens <= 64)
    if m.any():
        idx = rows[m]
        n = lens[m]
        mul0 = np.full(len(idx), (_FK2 - 30) & _M64, dtype=np.uint64)
        mul1 = (_U((_FK2 - 30) & _M64) + n.astype(np.uint64) * _U(2))
        h0 = _np_xo_h32(buf, idx, np.zeros(len(idx), dtype=np.int64), mul0)
        h1 = _np_xo_h32(buf, idx, n - 32, mul1)
        out[idx] = (h1 * mul1 + h0) * mul1

    m = (lens >= 65) & (lens <= 96)
    if m.any():
        idx = rows[m]
        n = lens[m]
        mul0 = np.full(len(idx), (_FK2 - 114) & _M64, dtype=np.uint64)
        mul1 = (_U((_FK2 - 114) & _M64) + n.astype(np.uint64) * _U(2))
        zero = np.zeros(len(idx), dtype=np.int64)
        h0 = _np_xo_h32(buf, idx, zero, mul0)
        h1 = _np_xo_h32(buf, idx, zero + 32, mul1)
        h2 = _np_xo_h32(buf, idx, n - 32, mul1, h0, h1)
        out[idx] = (h2 * _U(9) + (h0 >> _U(17)) + (h1 >> _U(21))) * mul1

    m = (lens >= 97) & (lens <= 256)
    if m.any():
        idx = rows[m]
        out[idx] = _farm_na_long_np(buf, lens[m], idx)

    m = lens > 256
    if m.any():
        idx = rows[m]
        out[idx] = _farm_uo_long_np(buf, lens[m], idx)
    _ = k2
    return out


def _metro64_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    k0, k1, k2, k3 = _U(_MK0), _U(_MK1), _U(_MK2), _U(_MK3)
    h = (_U(_MK2) * k0) + lens.astype(np.uint64)  # seed 0: (0+k2)*k0+len
    pos = np.zeros(n_rows, dtype=np.int64)

    big = lens >= 32
    if big.any():
        v0, v1, v2, v3 = h.copy(), h.copy(), h.copy(), h.copy()
        nblk = lens // 32
        for _ in range(int(nblk.max(initial=0))):
            active = (pos // 32 < nblk) & big
            if not active.any():
                break
            p = np.where(active, pos, 0)
            nv0 = _np_rotr(v0 + _np_fetch(buf, rows, p, 8) * k0, 29) + v2
            nv1 = _np_rotr(v1 + _np_fetch(buf, rows, p + 8, 8) * k1, 29) + v3
            nv2 = _np_rotr(v2 + _np_fetch(buf, rows, p + 16, 8) * k2, 29) + nv0
            nv3 = _np_rotr(v3 + _np_fetch(buf, rows, p + 24, 8) * k3, 29) + nv1
            v0 = np.where(active, nv0, v0)
            v1 = np.where(active, nv1, v1)
            v2 = np.where(active, nv2, v2)
            v3 = np.where(active, nv3, v3)
            pos = np.where(active, pos + 32, pos)
        v2x = v2 ^ (_np_rotr((v0 + v3) * k0 + v1, 33) * k1)
        v3x = v3 ^ (_np_rotr((v1 + v2x) * k1 + v0, 33) * k0)
        v0x = v0 ^ (_np_rotr((v0 + v2x) * k0 + v3x, 33) * k1)
        v1x = v1 ^ (_np_rotr((v1 + v3x) * k1 + v2x, 33) * k0)
        h = np.where(big, h + (v0x ^ v1x), h)

    rem = lens - pos
    m = rem >= 16
    if m.any():
        p = np.where(m, pos, 0)
        t0 = _np_rotr(h + _np_fetch(buf, rows, p, 8) * k0, 33) * k1
        t1 = _np_rotr(h + _np_fetch(buf, rows, p + 8, 8) * k1, 33) * k2
        t0 = t0 ^ (_np_rotr(t0 * k0, 35) + t1)
        t1 = t1 ^ (_np_rotr(t1 * k3, 35) + t0)
        h = np.where(m, h + t1, h)
        pos = np.where(m, pos + 16, pos)
    rem = lens - pos
    m = rem >= 8
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + _np_fetch(buf, rows, p, 8) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 33) * k1), h)
        pos = np.where(m, pos + 8, pos)
    rem = lens - pos
    m = rem >= 4
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + _np_fetch(buf, rows, p, 4) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 15) * k1), h)
        pos = np.where(m, pos + 4, pos)
    rem = lens - pos
    m = rem >= 2
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + _np_fetch(buf, rows, p, 2) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 13) * k1), h)
        pos = np.where(m, pos + 2, pos)
    rem = lens - pos
    m = rem >= 1
    if m.any():
        p = np.where(m, pos, 0)
        nh = h + buf[rows, p].astype(np.uint64) * k3
        h = np.where(m, nh ^ (_np_rotr(nh, 25) * k1), h)
    h = h ^ _np_rotr(h, 33)
    h = h * k0
    return h ^ _np_rotr(h, 33)


def _np_wymix(a, b):
    return (a * b) ^ _np_mulhi64(a, b)


def _wyhash_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    n64 = lens.astype(np.uint64)
    p0, p1, p2, p3 = (_U(_WYP[0]), _U(_WYP[1]), _U(_WYP[2]), _U(_WYP[3]))
    seed = np.full(n_rows, _U(_WYP[0]), dtype=np.uint64)  # 0 ^ _wyp[0]
    a = np.zeros(n_rows, dtype=np.uint64)
    b = np.zeros(n_rows, dtype=np.uint64)

    # short: 1..3
    m = (lens >= 1) & (lens <= 3)
    if m.any():
        c0 = buf[rows, 0].astype(np.uint64)
        c1 = buf[rows, np.maximum(lens, 0) >> 1].astype(np.uint64)
        c2 = buf[rows, np.maximum(lens - 1, 0)].astype(np.uint64)
        a = np.where(m, (c0 << _U(16)) | (c1 << _U(8)) | c2, a)

    # short: 4..16
    m = (lens >= 4) & (lens <= 16)
    if m.any():
        off2 = ((lens >> 3) << 2).astype(np.int64)
        av = (_np_fetch(buf, rows, np.zeros(n_rows, dtype=np.int64), 4) << _U(32)) \
            | _np_fetch(buf, rows, off2, 4)
        base = np.maximum(lens - 4, 0)
        bv = (_np_fetch(buf, rows, base, 4) << _U(32)) \
            | _np_fetch(buf, rows, np.maximum(base - off2, 0), 4)
        a = np.where(m, av, a)
        b = np.where(m, bv, b)

    # long: > 16
    long = lens > 16
    if long.any():
        i = lens.copy()
        pos = np.zeros(n_rows, dtype=np.int64)
        m48 = long & (i > 48)
        if m48.any():
            see1 = seed.copy()
            see2 = seed.copy()
            while True:
                active = m48 & (i > 48)
                if not active.any():
                    break
                p = np.where(active, pos, 0)
                ns = _np_wymix(_np_fetch(buf, rows, p, 8) ^ p1,
                               _np_fetch(buf, rows, p + 8, 8) ^ seed)
                n1 = _np_wymix(_np_fetch(buf, rows, p + 16, 8) ^ p2,
                               _np_fetch(buf, rows, p + 24, 8) ^ see1)
                n2 = _np_wymix(_np_fetch(buf, rows, p + 32, 8) ^ p3,
                               _np_fetch(buf, rows, p + 40, 8) ^ see2)
                seed = np.where(active, ns, seed)
                see1 = np.where(active, n1, see1)
                see2 = np.where(active, n2, see2)
                pos = np.where(active, pos + 48, pos)
                i = np.where(active, i - 48, i)
            seed = np.where(m48, seed ^ see1 ^ see2, seed)
        while True:
            active = long & (i > 16)
            if not active.any():
                break
            p = np.where(active, pos, 0)
            ns = _np_wymix(_np_fetch(buf, rows, p, 8) ^ p1,
                           _np_fetch(buf, rows, p + 8, 8) ^ seed)
            seed = np.where(active, ns, seed)
            pos = np.where(active, pos + 16, pos)
            i = np.where(active, i - 16, i)
        pa = np.maximum(pos + i - 16, 0)
        pb = np.maximum(pos + i - 8, 0)
        a = np.where(long, _np_fetch(buf, rows, pa, 8), a)
        b = np.where(long, _np_fetch(buf, rows, pb, 8), b)
    return _np_wymix(p1 ^ n64, _np_wymix(a ^ p1, b ^ seed))


def _xxh3_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    sec = np.frombuffer(_KSECRET, dtype=np.uint8)
    out = np.zeros(n_rows, dtype=np.uint64)
    n64 = lens.astype(np.uint64)
    p64_1, p32_1 = _U(_P64_1), _U(_P32_1)
    pmx1, pmx2 = _U(_PMX1), _U(_PMX2)

    def sec64(i):
        return _U(int.from_bytes(_KSECRET[i:i + 8], "little"))

    def np_aval(h):
        h = h ^ (h >> _U(37))
        h = h * pmx1
        return h ^ (h >> _U(32))

    def np_x64aval(h):
        h = h ^ (h >> _U(33))
        h = h * _U(_P64_2)
        h = h ^ (h >> _U(29))
        h = h * _U(_P64_3)
        return h ^ (h >> _U(32))

    def np_mix16(idx, offs, soff, sub_rows):
        # compute-then-mask: clamp offsets so lanes beyond a row's own
        # length (masked out by the caller) never index past the padded
        # byte matrix
        offs = np.clip(offs, 0, buf.shape[1] - 17)
        lo = _np_fetch(buf, sub_rows, offs, 8)
        hi = _np_fetch(buf, sub_rows, offs + 8, 8)
        return _np_mul128_fold64(lo ^ sec64(soff), hi ^ sec64(soff + 8))

    # len == 0
    m = lens == 0
    if m.any():
        out[m] = _U(xxh3_64_py(b""))

    # 1..3
    m = (lens >= 1) & (lens <= 3)
    if m.any():
        c1 = buf[rows, 0].astype(np.uint64)
        c2 = buf[rows, np.maximum(lens, 0) >> 1].astype(np.uint64)
        c3 = buf[rows, np.maximum(lens - 1, 0)].astype(np.uint64)
        comb = (c1 << _U(16)) | (c2 << _U(24)) | c3 | (n64 << _U(8))
        bf = _U(int.from_bytes(_KSECRET[0:4], "little")
                ^ int.from_bytes(_KSECRET[4:8], "little"))
        out = np.where(m, np_x64aval(comb ^ bf), out)

    # 4..8
    m = (lens >= 4) & (lens <= 8)
    if m.any():
        i1 = _np_fetch(buf, rows, np.zeros(n_rows, dtype=np.int64), 4)
        i2 = _np_fetch(buf, rows, np.maximum(lens - 4, 0), 4)
        bf = sec64(8) ^ sec64(16)
        keyed = (i2 + (i1 << _U(32))) ^ bf
        h = keyed ^ _np_rotl(keyed, 49) ^ _np_rotl(keyed, 24)
        h = h * pmx2
        h = h ^ ((h >> _U(35)) + n64)
        h = h * pmx2
        out = np.where(m, h ^ (h >> _U(28)), out)

    # 9..16
    m = (lens >= 9) & (lens <= 16)
    if m.any():
        bf1 = sec64(24) ^ sec64(32)
        bf2 = sec64(40) ^ sec64(48)
        lo = _np_fetch(buf, rows, np.zeros(n_rows, dtype=np.int64), 8) ^ bf1
        hi = _np_fetch(buf, rows, np.maximum(lens - 8, 0), 8) ^ bf2
        swapped = lo.byteswap()
        acc = n64 + swapped + hi + _np_mul128_fold64(lo, hi)
        out = np.where(m, np_aval(acc), out)

    # 17..128
    m = (lens >= 17) & (lens <= 128)
    if m.any():
        idx = rows[m]
        n = lens[m]
        nn = n.astype(np.uint64)
        zero = np.zeros(len(idx), dtype=np.int64)
        acc = nn * p64_1
        for cond, doff_a, soff_a, doff_b, soff_b in (
            (n > 96, zero + 48, 96, n - 64, 112),
            (n > 64, zero + 32, 64, n - 48, 80),
            (n > 32, zero + 16, 32, n - 32, 48),
        ):
            add_a = np_mix16(idx, doff_a, soff_a, idx)
            add_b = np_mix16(idx, doff_b, soff_b, idx)
            acc = np.where(cond, acc + add_a + add_b, acc)
        acc = acc + np_mix16(idx, zero, 0, idx)
        acc = acc + np_mix16(idx, n - 16, 16, idx)
        out[idx] = np_aval(acc)

    # 129..240
    m = (lens >= 129) & (lens <= 240)
    if m.any():
        idx = rows[m]
        n = lens[m]
        nn = n.astype(np.uint64)
        zero = np.zeros(len(idx), dtype=np.int64)
        acc = nn * p64_1
        for i in range(8):
            acc = acc + np_mix16(idx, zero + 16 * i, 16 * i, idx)
        acc = np_aval(acc)
        acc_end = np_mix16(idx, n - 16, 136 - 17, idx)
        rounds = n // 16
        for i in range(8, 15):
            add = np_mix16(idx, zero + 16 * i, 16 * (i - 8) + 3, idx)
            acc_end = np.where(i < rounds, acc_end + add, acc_end)
        out[idx] = np_aval(acc + acc_end)

    # > 240: striped long path
    m = lens > 240
    if m.any():
        idx = rows[m]
        n = lens[m]
        nr = len(idx)
        acc = np.tile(np.array([_P32_3, _P64_1, _P64_2, _P64_3,
                                _P64_4, _P32_2, _P64_5, _P32_1],
                               dtype=np.uint64), (nr, 1))
        nb_blocks = (n - 1) // 1024
        nb_stripes_last = ((n - 1) - 1024 * nb_blocks) // 64

        def acc_stripe(active, doffs, soff):
            p = np.where(active, doffs, 0)
            for lane in range(8):
                dv = _np_fetch(buf, idx, p + lane * 8, 8)
                dk = dv ^ sec64(soff + lane * 8)
                add_sw = np.where(active, dv, _U(0))
                acc[:, lane ^ 1] += add_sw
                prod = (dk & _U(0xFFFFFFFF)) * (dk >> _U(32))
                acc[:, lane] += np.where(active, prod, _U(0))

        max_blocks = int(nb_blocks.max(initial=0))
        for blk in range(max_blocks):
            active_blk = blk < nb_blocks
            for st in range(16):
                acc_stripe(active_blk, np.full(nr, blk * 1024 + st * 64,
                                               dtype=np.int64), st * 8)
            # scramble
            for lane in range(8):
                a = acc[:, lane]
                a = a ^ (a >> _U(47))
                a = a ^ sec64(128 + lane * 8)
                acc[:, lane] = np.where(active_blk, a * p32_1, acc[:, lane])
        max_last = int(nb_stripes_last.max(initial=0))
        for st in range(max_last):
            active = st < nb_stripes_last
            acc_stripe(active, (nb_blocks * 1024 + st * 64).astype(np.int64),
                       st * 8)
        # final stripe at n-64, secret offset 121
        acc_stripe(np.ones(nr, dtype=bool), (n - 64).astype(np.int64), 121)
        result = n.astype(np.uint64) * p64_1
        for i in range(4):
            result = result + _np_mul128_fold64(
                acc[:, 2 * i] ^ sec64(11 + 16 * i),
                acc[:, 2 * i + 1] ^ sec64(19 + 16 * i))
        out[idx] = np_aval(result)
    _ = sec
    return out
