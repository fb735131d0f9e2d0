"""Exact gccMurmurHash / kafkaMurmurHash / javaHash / javaHashUTF16LE /
hiveHash / murmurHash2_32 / murmurHash3_32 / xxHash32 / URLHash /
sipHash64Keyed — the last capability-mapped names of FunctionsHashing.h
(round 5 closes the file completely).

Reference semantics (/root/reference/src/Functions/FunctionsHashing.h):

- ``gccMurmurHash`` (GccMurmurHashImpl:409): MurmurHash64A with
  libstdc++'s seed 0xc70f6907 (the gcc _Hash_bytes constant); combine
  = intHash64(h1) ^ h2; PODs hash raw LE bytes.
- ``kafkaMurmurHash`` (KafkaMurmurHashImpl:430): 32-bit MurmurHash2
  with Kafka's seed 0x9747b28c, result & 0x7fffffff (the Kafka default
  partitioner); combine = intHash32(h1) ^ h2.
- ``murmurHash2_32`` (MurmurHash2Impl32): 32-bit MurmurHash2 seed 0.
- ``murmurHash3_32`` (MurmurHash3Impl32:451): MurmurHash3_x86_32 seed 0.
- ``xxHash32`` (ImplXxHash32:674): XXH32 seed 0; combine =
  intHash32(h1) ^ h2.
- ``javaHash`` (JavaHashImpl:514): Java String.hashCode over the raw
  bytes as SIGNED chars (31*h + b). POD rule is SPECIAL: int8/16/32
  pass through, Int64 folds x ^ (x >>> 32), unsigned types are
  NOT_IMPLEMENTED. Returns Int32. Not combineable.
- ``javaHashUTF16LE`` (JavaHashUTF16LEImpl:559): the same fold over
  UTF-16LE code units, stripping a leading 0xFFFE BOM.
- ``hiveHash`` (HiveHashImpl:597): javaHash & 0x7FFFFFFF.
- ``URLHash`` (URLHashImpl:1520): CityHash64 of the URL dropping ONE
  trailing '/', '?' or '#'. The level form URLHash(url, N) hashes the
  URL's hierarchy prefix at level N (composed here from the dialect's
  URLHierarchy — same prefix list).
- ``sipHash64Keyed`` (SipHash64KeyedImpl:215): SipHash-2-4 with caller
  (k0, k1); combine = keyed hash over the 16-byte LE concat.

All algorithms are public (MurmurHash public domain, xxHash BSD-2,
Java's hashCode in the JLS, SipHash from the published paper).
Validation: published anchor vectors (MurmurHash3_x86_32('hello',0)=
0x248bfa47, XXH32('')=0x02CC5D05 among others), a live JVM cross-check
for javaHash (String.hashCode via Spark's JVM in the test suite),
algebraic identities (hiveHash = javaHash & 0x7FFFFFFF; kafka =
murmur2_32(seed) & 0x7fffffff), and the repo's standing scalar↔numpy
dual-path sweeps. NULL hashes to NULL; the Spark surface is
functions/hashing.py.
"""

from __future__ import annotations

import numpy as np

from clickhouse_25_5_3_75_stable_spark.functions.hashes_extra import (
    _byte_matrix,
    _np_fetch,
    murmur2_64a_py,
)

_M32 = (1 << 32) - 1
_M64 = (1 << 64) - 1
_U = np.uint64
_U32 = np.uint32

_GCC_SEED = 0xC70F6907
_KAFKA_SEED = 0x9747B28C


def _rotl32(v: int, s: int) -> int:
    return ((v << s) | (v >> (32 - s))) & _M32


# ---------------------------------------------------------------------------
# scalar reference implementations
# ---------------------------------------------------------------------------

def murmur2_32_py(data: bytes, seed: int = 0) -> int:
    """Public-domain 32-bit MurmurHash2 (Austin Appleby)."""
    m, r = 0x5BD1E995, 24
    n = len(data)
    h = (seed ^ n) & _M32
    i = 0
    while n - i >= 4:
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * m) & _M32
        k ^= k >> r
        k = (k * m) & _M32
        h = (h * m) & _M32
        h ^= k
        i += 4
    rem = n - i
    if rem == 3:
        h ^= data[i + 2] << 16
    if rem >= 2:
        h ^= data[i + 1] << 8
    if rem >= 1:
        h ^= data[i]
        h = (h * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return h


def kafka_murmur_py(data: bytes) -> int:
    return murmur2_32_py(data, _KAFKA_SEED) & 0x7FFFFFFF


def murmur3_32_py(data: bytes, seed: int = 0) -> int:
    """MurmurHash3_x86_32 (public domain)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    n = len(data)
    nblocks = n // 4
    for i in range(nblocks):
        k = int.from_bytes(data[4 * i:4 * i + 4], "little")
        k = (k * c1) & _M32
        k = _rotl32(k, 15)
        k = (k * c2) & _M32
        h ^= k
        h = _rotl32(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = data[nblocks * 4:]
    if len(tail) == 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & _M32
        k = _rotl32(k, 15)
        k = (k * c2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


_X32P1 = 2654435761
_X32P2 = 2246822519
_X32P3 = 3266489917
_X32P4 = 668265263
_X32P5 = 374761393


def xxh32_py(data: bytes, seed: int = 0) -> int:
    """XXH32 (public xxHash spec), seed 0 in the reference."""
    n = len(data)
    i = 0

    def rd4(j):
        return int.from_bytes(data[j:j + 4], "little")

    if n >= 16:
        v1 = (seed + _X32P1 + _X32P2) & _M32
        v2 = (seed + _X32P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _X32P1) & _M32
        while i + 16 <= n:
            v1 = (_rotl32((v1 + rd4(i) * _X32P2) & _M32, 13) * _X32P1) & _M32
            v2 = (_rotl32((v2 + rd4(i + 4) * _X32P2) & _M32, 13) * _X32P1) & _M32
            v3 = (_rotl32((v3 + rd4(i + 8) * _X32P2) & _M32, 13) * _X32P1) & _M32
            v4 = (_rotl32((v4 + rd4(i + 12) * _X32P2) & _M32, 13) * _X32P1) & _M32
            i += 16
        h = (_rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)) & _M32
    else:
        h = (seed + _X32P5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        h = (_rotl32((h + rd4(i) * _X32P3) & _M32, 17) * _X32P4) & _M32
        i += 4
    while i < n:
        h = (_rotl32((h + data[i] * _X32P5) & _M32, 11) * _X32P1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _X32P2) & _M32
    h ^= h >> 13
    h = (h * _X32P3) & _M32
    h ^= h >> 16
    return h


def java_hash_py(data: bytes) -> int:
    """Java String.hashCode fold over SIGNED bytes → Int32."""
    h = 0
    for b in data:
        sb = b - 256 if b >= 128 else b
        h = (31 * h + sb) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def java_hash_utf16le_py(data: bytes) -> int:
    if len(data) >= 2 and data[0] == 0xFF and data[1] == 0xFE:
        data = data[2:]
    if len(data) % 2:
        raise ValueError("javaHashUTF16LE needs UTF-16 input")
    h = 0
    for i in range(0, len(data), 2):
        unit = data[i] | (data[i + 1] << 8)
        h = (31 * h + unit) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def java_hash_int64_py(x: int) -> int:
    u = x & _M64
    h = (u ^ (u >> 32)) & _M32
    return h - (1 << 32) if h >= (1 << 31) else h


def hive_hash_py(data: bytes) -> int:
    return java_hash_py(data) & 0x7FFFFFFF


def gcc_murmur_py(data: bytes) -> int:
    return murmur2_64a_py(data, _GCC_SEED)


def urlhash_py(data: bytes) -> int:
    from clickhouse_25_5_3_75_stable_spark.functions.cityhash import cityhash64_py

    if data and data[-1:] in (b"/", b"?", b"#"):
        data = data[:-1]
    return cityhash64_py(data)


# ---------------------------------------------------------------------------
# numpy batch paths
# ---------------------------------------------------------------------------

def _np_rotl32(v, s: int):
    return (v << _U32(s)) | (v >> _U32(32 - s))


def _murmur2_32_np(data: list[bytes], seed: int) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    m = _U32(0x5BD1E995)
    h = (_U32(seed) ^ lens.astype(np.uint32))
    pos = np.zeros(n_rows, dtype=np.int64)
    nblk = lens // 4
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 4 < nblk
        if not active.any():
            break
        p = np.where(active, pos, 0)
        k = _np_fetch(buf, rows, p, 4).astype(np.uint32)
        k = k * m
        k = k ^ (k >> _U32(24))
        k = k * m
        nh = (h * m) ^ k
        h = np.where(active, nh, h)
        pos = np.where(active, pos + 4, pos)
    rem = lens - pos
    p = np.where(rem > 0, pos, 0)
    b0 = buf[rows, p].astype(np.uint32)
    b1 = buf[rows, np.minimum(p + 1, buf.shape[1] - 1)].astype(np.uint32)
    b2 = buf[rows, np.minimum(p + 2, buf.shape[1] - 1)].astype(np.uint32)
    h = np.where(rem == 3, h ^ (b2 << _U32(16)), h)
    h = np.where(rem >= 2, h ^ (b1 << _U32(8)), h)
    h = np.where(rem >= 1, (h ^ b0) * m, h)
    h = h ^ (h >> _U32(13))
    h = h * m
    return (h ^ (h >> _U32(15))).astype(np.uint64)


def _murmur2_32_seed0_np(data: list[bytes]) -> np.ndarray:
    return _murmur2_32_np(data, 0)


def _kafka_np(data: list[bytes]) -> np.ndarray:
    return _murmur2_32_np(data, _KAFKA_SEED) & _U(0x7FFFFFFF)


def _murmur3_32_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    c1, c2 = _U32(0xCC9E2D51), _U32(0x1B873593)
    h = np.zeros(n_rows, dtype=np.uint32)
    pos = np.zeros(n_rows, dtype=np.int64)
    nblk = lens // 4
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 4 < nblk
        if not active.any():
            break
        p = np.where(active, pos, 0)
        k = _np_fetch(buf, rows, p, 4).astype(np.uint32)
        k = _np_rotl32(k * c1, 15) * c2
        nh = _np_rotl32(h ^ k, 13) * _U32(5) + _U32(0xE6546B64)
        h = np.where(active, nh, h)
        pos = np.where(active, pos + 4, pos)
    rem = lens - pos
    p = np.where(rem > 0, pos, 0)
    b0 = buf[rows, p].astype(np.uint32)
    b1 = buf[rows, np.minimum(p + 1, buf.shape[1] - 1)].astype(np.uint32)
    b2 = buf[rows, np.minimum(p + 2, buf.shape[1] - 1)].astype(np.uint32)
    k = np.zeros(n_rows, dtype=np.uint32)
    k = np.where(rem == 3, k ^ (b2 << _U32(16)), k)
    k = np.where(rem >= 2, k ^ (b1 << _U32(8)), k)
    k = np.where(rem >= 1, k ^ b0, k)
    k = _np_rotl32(k * c1, 15) * c2
    h = np.where(rem >= 1, h ^ k, h)
    h = h ^ lens.astype(np.uint32)
    h = h ^ (h >> _U32(16))
    h = h * _U32(0x85EBCA6B)
    h = h ^ (h >> _U32(13))
    h = h * _U32(0xC2B2AE35)
    return (h ^ (h >> _U32(16))).astype(np.uint64)


def _xxh32_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    p1, p2, p3, p4, p5 = (_U32(_X32P1), _U32(_X32P2), _U32(_X32P3),
                          _U32(_X32P4), _U32(_X32P5))
    h = np.full(n_rows, _U32(_X32P5), dtype=np.uint32)
    pos = np.zeros(n_rows, dtype=np.int64)
    big = lens >= 16
    if big.any():
        v1 = np.full(n_rows, (_X32P1 + _X32P2) & _M32, dtype=np.uint32)
        v2 = np.full(n_rows, _X32P2, dtype=np.uint32)
        v3 = np.zeros(n_rows, dtype=np.uint32)
        v4 = np.full(n_rows, (-_X32P1) & _M32, dtype=np.uint32)
        nblk = (lens // 16) * big
        for _ in range(int(nblk.max(initial=0))):
            active = pos // 16 < nblk
            if not active.any():
                break
            p = np.where(active, pos, 0)
            nv1 = _np_rotl32(v1 + _np_fetch(buf, rows, p, 4).astype(np.uint32) * p2, 13) * p1
            nv2 = _np_rotl32(v2 + _np_fetch(buf, rows, p + 4, 4).astype(np.uint32) * p2, 13) * p1
            nv3 = _np_rotl32(v3 + _np_fetch(buf, rows, p + 8, 4).astype(np.uint32) * p2, 13) * p1
            nv4 = _np_rotl32(v4 + _np_fetch(buf, rows, p + 12, 4).astype(np.uint32) * p2, 13) * p1
            v1 = np.where(active, nv1, v1)
            v2 = np.where(active, nv2, v2)
            v3 = np.where(active, nv3, v3)
            v4 = np.where(active, nv4, v4)
            pos = np.where(active, pos + 16, pos)
        hb = (_np_rotl32(v1, 1) + _np_rotl32(v2, 7)
              + _np_rotl32(v3, 12) + _np_rotl32(v4, 18))
        h = np.where(big, hb, h)
    h = h + lens.astype(np.uint32)
    for _ in range(3):
        take = pos + 4 <= lens
        if not take.any():
            break
        p = np.where(take, pos, 0)
        nh = _np_rotl32(h + _np_fetch(buf, rows, p, 4).astype(np.uint32) * p3, 17) * p4
        h = np.where(take, nh, h)
        pos = np.where(take, pos + 4, pos)
    for _ in range(3):
        take = pos < lens
        if not take.any():
            break
        p = np.where(take, pos, 0)
        nh = _np_rotl32(h + buf[rows, p].astype(np.uint32) * p5, 11) * p1
        h = np.where(take, nh, h)
        pos = np.where(take, pos + 1, pos)
    h = h ^ (h >> _U32(15))
    h = h * p2
    h = h ^ (h >> _U32(13))
    h = h * p3
    return (h ^ (h >> _U32(16))).astype(np.uint64)


def _java_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    h = np.zeros(n_rows, dtype=np.uint32)
    pos = np.zeros(n_rows, dtype=np.int64)
    for _ in range(int(lens.max(initial=0))):
        active = pos < lens
        if not active.any():
            break
        p = np.where(active, pos, 0)
        sb = buf[rows, p].astype(np.int8).astype(np.uint32)  # signed byte
        nh = h * _U32(31) + sb
        h = np.where(active, nh, h)
        pos = np.where(active, pos + 1, pos)
    # reinterpret the uint32 fold as Int32, then widen (sign-preserving)
    return h.view(np.int32).astype(np.int64).astype(np.uint64)


def _gcc_np(data: list[bytes]) -> np.ndarray:
    # MurmurHash64A with the gcc seed (hashes_extra._murmur2_64a_np is
    # seed-0; the seed enters only the initial state)
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    m = _U(0xC6A4A7935BD1E995)
    h = _U(_GCC_SEED) ^ (lens.astype(np.uint64) * m)
    pos = np.zeros(n_rows, dtype=np.int64)
    nblk = lens // 8
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 8 < nblk
        if not active.any():
            break
        p = np.where(active, pos, 0)
        k = _np_fetch(buf, rows, p, 8)
        k = k * m
        k = k ^ (k >> _U(47))
        k = k * m
        nh = (h ^ k) * m
        h = np.where(active, nh, h)
        pos = np.where(active, pos + 8, pos)
    rem = (lens - pos).astype(np.int64)
    maxr = int(rem.max(initial=0))
    if maxr:
        tail = np.zeros(n_rows, dtype=np.uint64)
        for i in range(maxr):
            p = np.minimum(pos + i, buf.shape[1] - 1)
            b = buf[rows, p].astype(np.uint64)
            tail = np.where(i < rem, tail | (b << _U(8 * i)), tail)
        h = np.where(rem > 0, (h ^ tail) * m, h)
    h = h ^ (h >> _U(47))
    h = h * m
    h = h ^ (h >> _U(47))
    return h
