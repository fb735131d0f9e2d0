"""Exact xxHash64 / murmurHash2_64 / murmurHash3_64 / intHash32/64 —
the remaining 64-bit hash family (SURVEY §2.8 hashing).

Reference semantics (/root/reference/src/Functions/FunctionsHashing.h):

- ``xxHash64``  (ImplXxHash64:693): XXH64(bytes, seed=0); PODs hash
  raw LE native-width bytes (use_int_hash_for_pods=false); combine =
  CityHash Hash128to64. NOTE: Spark's built-in ``xxhash64()`` is NOT
  this (seed 42 over Spark's internal row encoding).
- ``murmurHash2_64`` (MurmurHash2Impl64:390): MurmurHash64A(bytes, 0);
  combine = intHash64(h1) ^ h2.
- ``murmurHash3_64`` (MurmurHash3Impl64:473): low64 ^ high64 of
  MurmurHash3_x64_128(bytes, 0); combine = intHash64(h1) ^ h2.
- ``intHash64`` / ``intHash32`` (IntHash64Impl:184 / IntHash32Impl:173
  + Common/HashTable/Hash.h): integer mixes over the zero-extended
  UInt64 bit pattern.

All algorithms are public (xxHash and MurmurHash are public-domain
reference algorithms; the constants below are from their published
specifications). Same validation scope as functions/cityhash.py: an
imperative Python transcription is the reference, a numpy-vectorized
batch path (masked block loops across rows) is the execution path,
the two are cross-validated over every length class, plus published
anchor vectors for XXH64 and algebraically-forced empty-input values.

NULL hashes to NULL (FunctionsHashing.h:869); the Spark surface of
every family here is functions/hashing.py.
"""

from __future__ import annotations

import numpy as np

_M64 = (1 << 64) - 1
_U = np.uint64

# ---------------------------------------------------------------------------
# XXH64 (public xxHash specification, seed 0)
# ---------------------------------------------------------------------------

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5


def _rotl(v: int, s: int) -> int:
    return ((v << s) | (v >> (64 - s))) & _M64


def xxh64_py(data: bytes, seed: int = 0) -> int:
    n = len(data)

    def rd8(i):
        return int.from_bytes(data[i : i + 8], "little")

    def rd4(i):
        return int.from_bytes(data[i : i + 4], "little")

    def xround(acc, inp):
        acc = (acc + inp * _XP2) & _M64
        return (_rotl(acc, 31) * _XP1) & _M64

    def merge(h, v):
        h ^= xround(0, v)
        return (h * _XP1 + _XP4) & _M64

    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            v1 = xround(v1, rd8(i))
            v2 = xround(v2, rd8(i + 8))
            v3 = xround(v3, rd8(i + 16))
            v4 = xround(v4, rd8(i + 24))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = merge(h, v1)
        h = merge(h, v2)
        h = merge(h, v3)
        h = merge(h, v4)
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= xround(0, rd8(i))
        h = (_rotl(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        h = (h ^ (rd4(i) * _XP1)) & _M64
        h = (_rotl(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    while i < n:
        h = (h ^ (data[i] * _XP5)) & _M64
        h = (_rotl(h, 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# MurmurHash64A (public MurmurHash2 specification, seed 0)
# ---------------------------------------------------------------------------

_MM = 0xC6A4A7935BD1E995


def murmur2_64a_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    h = (seed ^ ((n * _MM) & _M64)) & _M64
    nblocks = n // 8
    for b in range(nblocks):
        k = int.from_bytes(data[b * 8 : b * 8 + 8], "little")
        k = (k * _MM) & _M64
        k ^= k >> 47
        k = (k * _MM) & _M64
        h = ((h ^ k) * _MM) & _M64
    tail = data[nblocks * 8 :]
    if tail:
        h ^= int.from_bytes(tail, "little")
        h = (h * _MM) & _M64
    h ^= h >> 47
    h = (h * _MM) & _M64
    h ^= h >> 47
    return h


# ---------------------------------------------------------------------------
# MurmurHash3_x64_128 (public MurmurHash3 specification, seed 0);
# the reference returns low64 ^ high64 (MurmurHash3Impl64:486).
# ---------------------------------------------------------------------------

_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    k ^= k >> 33
    return k


def murmur3_x64_128_py(data: bytes, seed: int = 0) -> tuple[int, int]:
    n = len(data)
    h1 = h2 = seed & _M64
    nblocks = n // 16
    for b in range(nblocks):
        k1 = int.from_bytes(data[b * 16 : b * 16 + 8], "little")
        k2 = int.from_bytes(data[b * 16 + 8 : b * 16 + 16], "little")
        k1 = (_rotl((k1 * _C1) & _M64, 31) * _C2) & _M64
        h1 ^= k1
        h1 = ((_rotl(h1, 27) + h2) * 5 + 0x52DCE729) & _M64
        k2 = (_rotl((k2 * _C2) & _M64, 33) * _C1) & _M64
        h2 ^= k2
        h2 = ((_rotl(h2, 31) + h1) * 5 + 0x38495AB5) & _M64
    tail = data[nblocks * 16 :]
    k1 = int.from_bytes(tail[:8], "little") if tail[:8] else 0
    k2 = int.from_bytes(tail[8:], "little") if tail[8:] else 0
    if len(tail) > 8:
        k2 = (_rotl((k2 * _C2) & _M64, 33) * _C1) & _M64
        h2 ^= k2
    if tail:
        k1 = (_rotl((k1 * _C1) & _M64, 31) * _C2) & _M64
        h1 ^= k1
    h1 = (h1 ^ n) & _M64
    h2 = (h2 ^ n) & _M64
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


def murmur3_64_py(data: bytes) -> int:
    h1, h2 = murmur3_x64_128_py(data)
    return h1 ^ h2


# ---------------------------------------------------------------------------
# intHash32 (Common/HashTable/Hash.h:499, salt 0x75D9543DE018BF45 per
# IntHash32Impl:180). intHash64 lives in functions/cityhash.py
# (inthash64_py / _np_inthash64 — it doubles as cityHash64's POD path).
# ---------------------------------------------------------------------------

_IH32_SALT = 0x75D9543DE018BF45


def inthash32_py(x: int) -> int:
    key = (x ^ _IH32_SALT) & _M64
    key = ((~key & _M64) + ((key << 18) & _M64)) & _M64
    key ^= ((key >> 31) | (key << 33)) & _M64
    key = (key * 21) & _M64
    key ^= ((key >> 11) | (key << 53)) & _M64
    key = (key + ((key << 6) & _M64)) & _M64
    key ^= ((key >> 22) | (key << 42)) & _M64
    return key & 0xFFFFFFFF


def _np_inthash32(x: np.ndarray) -> np.ndarray:
    key = x ^ _U(_IH32_SALT)
    key = (~key) + (key << _U(18))
    key = key ^ ((key >> _U(31)) | (key << _U(33)))
    key = key * _U(21)
    key = key ^ ((key >> _U(11)) | (key << _U(53)))
    key = key + (key << _U(6))
    key = key ^ ((key >> _U(22)) | (key << _U(42)))
    return key & _U(0xFFFFFFFF)


# ---------------------------------------------------------------------------
# Vectorized batch paths: one padded byte matrix per Arrow batch,
# masked block loops across rows (same machinery as cityhash.py).
# ---------------------------------------------------------------------------


def _byte_matrix(data: list[bytes]):
    n_rows = len(data)
    lens = np.fromiter((len(d) for d in data), dtype=np.int64, count=n_rows)
    width = max(int(lens.max(initial=0)), 8) + 16
    buf = np.zeros((n_rows, width), dtype=np.uint8)
    for i, d in enumerate(data):
        if d:
            buf[i, : len(d)] = np.frombuffer(d, dtype=np.uint8)
    return buf, lens


def _np_fetch(buf, rows, offs, nbytes):
    idx = offs[:, None].astype(np.int64) + np.arange(nbytes)[None, :]
    b = buf[rows[:, None], idx].astype(np.uint64)
    out = np.zeros(len(rows), dtype=np.uint64)
    for i in range(nbytes):
        out |= b[:, i] << _U(8 * i)
    return out


def _np_fetch_tail(buf, rows, offs, counts):
    """LE integer of a variable 0..15-byte tail per row."""
    maxb = int(counts.max(initial=0))
    out = np.zeros(len(rows), dtype=np.uint64)
    if maxb == 0:
        return out
    idx = offs[:, None].astype(np.int64) + np.arange(maxb)[None, :]
    np.clip(idx, 0, buf.shape[1] - 1, out=idx)
    b = buf[rows[:, None], idx].astype(np.uint64)
    for i in range(maxb):
        out |= np.where(i < counts, b[:, i], _U(0)) << _U(8 * i)
    return out


def _np_rotl(v, s: int):
    return (v << _U(s)) | (v >> _U(64 - s))


def _xxh64_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    p1, p2, p3, p4, p5 = (_U(_XP1), _U(_XP2), _U(_XP3), _U(_XP4), _U(_XP5))

    def xround(acc, inp):
        return _np_rotl(acc + inp * p2, 31) * p1

    h = np.full(n_rows, _U(_XP5), dtype=np.uint64)  # seed 0 short path
    long = lens >= 32
    if long.any():
        v1 = np.full(n_rows, (0 + _XP1 + _XP2) & _M64, dtype=np.uint64)
        v2 = np.full(n_rows, _XP2, dtype=np.uint64)
        v3 = np.zeros(n_rows, dtype=np.uint64)
        v4 = np.full(n_rows, (0 - _XP1) & _M64, dtype=np.uint64)
        pos = np.zeros(n_rows, dtype=np.int64)
        nblk = (lens // 32) * (lens >= 32)
        for _ in range(int(nblk.max(initial=0))):
            active = pos // 32 < nblk
            p = np.where(active, pos, 0)
            nv1 = xround(v1, _np_fetch(buf, rows, p, 8))
            nv2 = xround(v2, _np_fetch(buf, rows, p + 8, 8))
            nv3 = xround(v3, _np_fetch(buf, rows, p + 16, 8))
            nv4 = xround(v4, _np_fetch(buf, rows, p + 24, 8))
            v1 = np.where(active, nv1, v1)
            v2 = np.where(active, nv2, v2)
            v3 = np.where(active, nv3, v3)
            v4 = np.where(active, nv4, v4)
            pos = np.where(active, pos + 32, pos)
        hl = _np_rotl(v1, 1) + _np_rotl(v2, 7) + _np_rotl(v3, 12) + _np_rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            hl = (hl ^ xround(np.zeros_like(v), v)) * p1 + p4
        h = np.where(long, hl, h)
    h = h + lens.astype(np.uint64)

    # tail: up to three 8-byte words, one 4-byte word, then bytes
    i = (lens // 32) * 32 * (lens >= 32)
    for _ in range(3):
        take = i + 8 <= lens
        if not take.any():
            break
        p = np.where(take, i, 0)
        k = xround(np.zeros(n_rows, dtype=np.uint64), _np_fetch(buf, rows, p, 8))
        h = np.where(take, _np_rotl(h ^ k, 27) * p1 + p4, h)
        i = np.where(take, i + 8, i)
    take = i + 4 <= lens
    if take.any():
        p = np.where(take, i, 0)
        k = _np_fetch(buf, rows, p, 4)
        h = np.where(take, _np_rotl(h ^ (k * p1), 23) * p2 + p3, h)
        i = np.where(take, i + 4, i)
    for _ in range(3):
        take = i < lens
        if not take.any():
            break
        p = np.where(take, i, 0)
        byte = buf[rows, p].astype(np.uint64)
        h = np.where(take, _np_rotl(h ^ (byte * p5), 11) * p1, h)
        i = np.where(take, i + 1, i)
    h = h ^ (h >> _U(33))
    h = h * p2
    h = h ^ (h >> _U(29))
    h = h * p3
    h = h ^ (h >> _U(32))
    return h


def _murmur2_64a_np(data: list[bytes]) -> np.ndarray:
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    m = _U(_MM)
    h = (np.zeros(n_rows, dtype=np.uint64) ^ (lens.astype(np.uint64) * m))
    nblk = lens // 8
    pos = np.zeros(n_rows, dtype=np.int64)
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 8 < nblk
        p = np.where(active, pos, 0)
        k = _np_fetch(buf, rows, p, 8)
        k = k * m
        k = k ^ (k >> _U(47))
        k = k * m
        h = np.where(active, (h ^ k) * m, h)
        pos = np.where(active, pos + 8, pos)
    tail_n = lens % 8
    tail = _np_fetch_tail(buf, rows, nblk * 8, tail_n)
    has_tail = tail_n > 0
    h = np.where(has_tail, (h ^ tail) * m, h)
    h = h ^ (h >> _U(47))
    h = h * m
    h = h ^ (h >> _U(47))
    return h


def _murmur3_64_np(data: list[bytes]) -> np.ndarray:
    h1, h2 = _murmur3_state_np(data)
    return h1 ^ h2


def _murmur3_128_np(data: list[bytes]) -> list[bytes]:
    """Full 16-byte MurmurHash3_x64_128 output (h1 LE ++ h2 LE — the
    reference's FixedString(16) memory layout, MurmurHash3Impl128)."""
    h1, h2 = _murmur3_state_np(data)
    a = h1.astype("<u8").view(np.uint8).reshape(-1, 8)
    b = h2.astype("<u8").view(np.uint8).reshape(-1, 8)
    both = np.concatenate([a, b], axis=1)
    return [bytes(r) for r in both]


def _murmur3_state_np(data: list[bytes]):
    buf, lens = _byte_matrix(data)
    n_rows = len(data)
    rows = np.arange(n_rows)
    c1, c2 = _U(_C1), _U(_C2)
    h1 = np.zeros(n_rows, dtype=np.uint64)
    h2 = np.zeros(n_rows, dtype=np.uint64)
    nblk = lens // 16
    pos = np.zeros(n_rows, dtype=np.int64)
    for _ in range(int(nblk.max(initial=0))):
        active = pos // 16 < nblk
        p = np.where(active, pos, 0)
        k1 = _np_fetch(buf, rows, p, 8)
        k2 = _np_fetch(buf, rows, p + 8, 8)
        k1 = _np_rotl(k1 * c1, 31) * c2
        nh1 = h1 ^ k1
        nh1 = (_np_rotl(nh1, 27) + h2) * _U(5) + _U(0x52DCE729)
        k2 = _np_rotl(k2 * c2, 33) * c1
        nh2 = h2 ^ k2
        nh2 = (_np_rotl(nh2, 31) + nh1) * _U(5) + _U(0x38495AB5)
        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)
        pos = np.where(active, pos + 16, pos)
    base = nblk * 16
    t_n = lens % 16
    k1 = _np_fetch_tail(buf, rows, base, np.minimum(t_n, 8))
    k2 = _np_fetch_tail(buf, rows, base + 8, np.maximum(t_n - 8, 0))
    gt8 = t_n > 8
    k2 = _np_rotl(k2 * c2, 33) * c1
    h2 = np.where(gt8, h2 ^ k2, h2)
    anyt = t_n > 0
    k1 = _np_rotl(k1 * c1, 31) * c2
    h1 = np.where(anyt, h1 ^ k1, h1)
    ln = lens.astype(np.uint64)
    h1 = h1 ^ ln
    h2 = h2 ^ ln
    h1 = h1 + h2
    h2 = h2 + h1

    def fmix(k):
        k = k ^ (k >> _U(33))
        k = k * _U(0xFF51AFD7ED558CCD)
        k = k ^ (k >> _U(33))
        k = k * _U(0xC4CEB9FE1A85EC53)
        k = k ^ (k >> _U(33))
        return k

    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1, h2


# ---------------------------------------------------------------------------
# halfMD5 (HalfMD5Impl:240): UInt64 from the FIRST 8 bytes of the MD5
# digest, big-endian. The Spark path is JVM expressions only (md5 + hex
# math, functions/hashing.py); combine (HalfMD5Impl:272) =
# halfMD5(le8(h1) || le8(h2)).
# ---------------------------------------------------------------------------


def halfmd5_py(data: bytes) -> int:
    import hashlib

    return int.from_bytes(hashlib.md5(data).digest()[:8], "big")


# ---------------------------------------------------------------------------
# jumpConsistentHash (jumpConsistentHash.cpp:11 — the published
# Lamping-Veach algorithm, arXiv:1406.2294): key jumps through buckets,
# O(ln n) iterations. The key is the integer VALUE (not a pre-hash).
# ---------------------------------------------------------------------------


def jump_consistent_hash_py(key: int, num_buckets: int) -> int:
    key &= _M64
    b, j = -1, 0
    while j < num_buckets:
        b = j
        key = (key * 2862933555777941757 + 1) & _M64
        j = int((b + 1) * (float(1 << 31) / float((key >> 33) + 1)))
    return b


def _np_jump(keys: np.ndarray, buckets: np.ndarray) -> np.ndarray:
    b = np.full(len(keys), -1, dtype=np.int64)
    j = np.zeros(len(keys), dtype=np.int64)
    active = j < buckets
    while active.any():
        b = np.where(active, j, b)
        keys = np.where(active, keys * _U(2862933555777941757) + _U(1), keys)
        jf = (
            (b + 1).astype(np.float64)
            * (2147483648.0 / ((keys >> _U(33)) + _U(1)).astype(np.float64))
        ).astype(np.int64)
        j = np.where(active, jf, j)
        active = j < buckets
    return b
