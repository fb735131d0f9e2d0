"""Exact SipHash-2-4 — bit-identical to the reference's sipHash64.

The reference's SipHash (src/Common/SipHash.h) is the canonical
SipHash-2-4 of the public spec (https://www.131002.net/siphash/) with
key (0, 0): same init constants, same 2+4 round structure, same
final-word padding (remaining bytes low, total length mod 256 in the
top byte) and the standard 0xff finalization. So producing CH-equal
values needs no reference code — only the published algorithm,
validated here against the SipHash paper's test vectors.

Two tiers:
- `siphash64_py`  — scalar reference (paper-vector validated).
- `_siphash64_np` — numpy-vectorized across an Arrow batch: the Python
  loop is over 8-byte WORD positions of the longest string in the
  batch, never over rows. The Spark surface (typed encoding, combine,
  SQL text) is functions/hashing.py.

This replaces the earlier xxhash64 stand-in: sampling/sharding keys
computed with sipHash64 in a ClickHouse deployment now reproduce
exactly, which is what makes a migration's sample sets stable.
"""

from __future__ import annotations

import numpy as np

_MASK = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, b: int) -> int:
    return ((x << b) | (x >> (64 - b))) & _MASK


def siphash64_py(data: bytes, k0: int = 0, k1: int = 0) -> int:
    """Scalar SipHash-2-4 (validated against the paper's vectors)."""
    v0 = 0x736F6D6570736575 ^ k0
    v1 = 0x646F72616E646F6D ^ k1
    v2 = 0x6C7967656E657261 ^ k0
    v3 = 0x7465646279746573 ^ k1

    def rounds(n: int) -> None:
        nonlocal v0, v1, v2, v3
        for _ in range(n):
            v0 = (v0 + v1) & _MASK
            v1 = _rotl(v1, 13) ^ v0
            v0 = _rotl(v0, 32)
            v2 = (v2 + v3) & _MASK
            v3 = _rotl(v3, 16) ^ v2
            v0 = (v0 + v3) & _MASK
            v3 = _rotl(v3, 21) ^ v0
            v2 = (v2 + v1) & _MASK
            v1 = _rotl(v1, 17) ^ v2
            v2 = _rotl(v2, 32)

    n = len(data)
    for off in range(0, n - n % 8, 8):
        m = int.from_bytes(data[off:off + 8], "little")
        v3 ^= m
        rounds(2)
        v0 ^= m
    last = data[n - n % 8:] + b"\x00" * (7 - n % 8) + bytes([n % 256])
    m = int.from_bytes(last, "little")
    v3 ^= m
    rounds(2)
    v0 ^= m
    v2 ^= 0xFF
    rounds(4)
    return (v0 ^ v1 ^ v2 ^ v3) & _MASK


def siphash128_py(data: bytes) -> bytes:
    """ClickHouse's LEGACY sipHash128 (Common/SipHash.h:192 get128):
    the same SipHash-2-4 state machine and 0xff finalize as sipHash64,
    but emitting (v0^v1, v2^v3) as 16 LE bytes instead of the xor of
    all four registers. NOT the official SipHash-128 — that is
    sipHash128Reference below."""
    v = _sip_state_py(data, ref128=False)
    lo = (v[0] ^ v[1]) & _MASK
    hi = (v[2] ^ v[3]) & _MASK
    return lo.to_bytes(8, "little") + hi.to_bytes(8, "little")


def siphash128_reference_py(data: bytes) -> bytes:
    """The official SipHash-2-4 128-bit output (SipHash.cpp:9
    get128Reference): v1^=0xee at init, 0xee finalize, lo = xor-all,
    then v1^=0xdd + 4 rounds for hi."""
    v0, v1, v2, v3 = _sip_state_py(data, ref128=True)
    lo = (v0 ^ v1 ^ v2 ^ v3) & _MASK
    v1 ^= 0xDD
    for _ in range(4):
        v0 = (v0 + v1) & _MASK
        v1 = _rotl(v1, 13) ^ v0
        v0 = _rotl(v0, 32)
        v2 = (v2 + v3) & _MASK
        v3 = _rotl(v3, 16) ^ v2
        v0 = (v0 + v3) & _MASK
        v3 = _rotl(v3, 21) ^ v0
        v2 = (v2 + v1) & _MASK
        v1 = _rotl(v1, 17) ^ v2
        v2 = _rotl(v2, 32)
    hi = (v0 ^ v1 ^ v2 ^ v3) & _MASK
    return lo.to_bytes(8, "little") + hi.to_bytes(8, "little")


def _sip_state_py(
    data: bytes, ref128: bool, k0: int = 0, k1: int = 0
) -> tuple[int, int, int, int]:
    v0 = 0x736F6D6570736575 ^ k0
    v1 = (0x646F72616E646F6D ^ k1) ^ (0xEE if ref128 else 0)
    v2 = 0x6C7967656E657261 ^ k0
    v3 = 0x7465646279746573 ^ k1

    def rounds(n: int):
        nonlocal v0, v1, v2, v3
        for _ in range(n):
            v0 = (v0 + v1) & _MASK
            v1 = _rotl(v1, 13) ^ v0
            v0 = _rotl(v0, 32)
            v2 = (v2 + v3) & _MASK
            v3 = _rotl(v3, 16) ^ v2
            v0 = (v0 + v3) & _MASK
            v3 = _rotl(v3, 21) ^ v0
            v2 = (v2 + v1) & _MASK
            v1 = _rotl(v1, 17) ^ v2
            v2 = _rotl(v2, 32)

    n = len(data)
    for off in range(0, n - n % 8, 8):
        m = int.from_bytes(data[off:off + 8], "little")
        v3 ^= m
        rounds(2)
        v0 ^= m
    last = data[n - n % 8:] + b"\x00" * (7 - n % 8) + bytes([n % 256])
    m = int.from_bytes(last, "little")
    v3 ^= m
    rounds(2)
    v0 ^= m
    v2 ^= 0xEE if ref128 else 0xFF
    rounds(4)
    return v0, v1, v2, v3


def siphash128_keyed_py(k0: int, k1: int, data: bytes) -> bytes:
    """sipHash128Keyed: the CH-legacy get128 output ((v0^v1, v2^v3) as
    16 LE bytes) with a caller key (FunctionsHashing.h:306 applyKeyed
    -> SipHash.h:226 sipHash128Keyed). Keyed with (0, 0) this equals
    sipHash128 — pinned by test_hashes_extra3."""
    v = _sip_state_py(data, ref128=False, k0=k0, k1=k1)
    lo = (v[0] ^ v[1]) & _MASK
    hi = (v[2] ^ v[3]) & _MASK
    return lo.to_bytes(8, "little") + hi.to_bytes(8, "little")


def siphash128_reference_keyed_py(k0: int, k1: int, data: bytes) -> bytes:
    """sipHash128ReferenceKeyed: the OFFICIAL SipHash-2-4 128-bit
    output with a caller key (FunctionsHashing.h:342 applyKeyed).
    Validated against the SipHash reference implementation's published
    vectors_sip128 (key 000102..0f)."""
    v0, v1, v2, v3 = _sip_state_py(data, ref128=True, k0=k0, k1=k1)
    lo = (v0 ^ v1 ^ v2 ^ v3) & _MASK
    v1 ^= 0xDD
    for _ in range(4):
        v0 = (v0 + v1) & _MASK
        v1 = _rotl(v1, 13) ^ v0
        v0 = _rotl(v0, 32)
        v2 = (v2 + v3) & _MASK
        v3 = _rotl(v3, 16) ^ v2
        v0 = (v0 + v3) & _MASK
        v3 = _rotl(v3, 21) ^ v0
        v2 = (v2 + v1) & _MASK
        v1 = _rotl(v1, 17) ^ v2
        v2 = _rotl(v2, 32)
    hi = (v0 ^ v1 ^ v2 ^ v3) & _MASK
    return lo.to_bytes(8, "little") + hi.to_bytes(8, "little")


def _np_rotl(x: np.ndarray, b: int) -> np.ndarray:
    b64 = np.uint64(b)
    inv = np.uint64(64 - b)
    return (x << b64) | (x >> inv)


def _siphash64_np(data: list[bytes]) -> np.ndarray:
    """Vectorized zero-key SipHash-2-4 of a batch of byte strings."""
    v0, v1, v2, v3 = _sip_state_np(data, ref128=False)
    return v0 ^ v1 ^ v2 ^ v3


def _siphash128_np(data: list[bytes]) -> list[bytes]:
    """Vectorized CH-legacy sipHash128 (get128: lo=v0^v1, hi=v2^v3)."""
    v0, v1, v2, v3 = _sip_state_np(data, ref128=False)
    lo, hi = v0 ^ v1, v2 ^ v3
    return _le128(lo, hi)


def _siphash128_reference_np(data: list[bytes]) -> list[bytes]:
    """Vectorized official SipHash-2-4-128 (get128Reference)."""
    v0, v1, v2, v3 = _sip_state_np(data, ref128=True)
    lo = v0 ^ v1 ^ v2 ^ v3
    v1 = v1 ^ np.uint64(0xDD)
    for _ in range(4):
        v0 = v0 + v1
        v1 = _np_rotl(v1, 13) ^ v0
        v0 = _np_rotl(v0, 32)
        v2 = v2 + v3
        v3 = _np_rotl(v3, 16) ^ v2
        v0 = v0 + v3
        v3 = _np_rotl(v3, 21) ^ v0
        v2 = v2 + v1
        v1 = _np_rotl(v1, 17) ^ v2
        v2 = _np_rotl(v2, 32)
    hi = v0 ^ v1 ^ v2 ^ v3
    return _le128(lo, hi)


def _le128(lo: np.ndarray, hi: np.ndarray) -> list[bytes]:
    lo_b = lo.astype("<u8").view(np.uint8).reshape(-1, 8)
    hi_b = hi.astype("<u8").view(np.uint8).reshape(-1, 8)
    both = np.concatenate([lo_b, hi_b], axis=1)
    return [bytes(row) for row in both]


def _sip_state_np(data: list[bytes], ref128: bool):
    n = len(data)
    lens = np.fromiter((len(b) for b in data), dtype=np.int64, count=n)
    full_words = lens // 8
    max_full = int(full_words.max()) if n else 0
    width = (max_full + 1) * 8
    buf = np.zeros((n, width), dtype=np.uint8)
    for i, b in enumerate(data):
        buf[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    # zero the length-byte slot's word tail beyond each string, then
    # stamp the final word's top byte with len % 256
    # (bytes past len are already zero because buf started zeroed and
    #  each row only wrote its own length)
    rows = np.arange(n)
    # clear any overhang: a string whose tail crosses into its final
    # word already wrote its remainder bytes; bytes after it are 0.
    buf[rows, full_words * 8 + 7] = (lens % 256).astype(np.uint8)
    words = buf.view("<u8").reshape(n, max_full + 1)

    v0 = np.full(n, 0x736F6D6570736575, dtype=np.uint64)
    v1 = np.full(n, 0x646F72616E646F6D ^ (0xEE if ref128 else 0), dtype=np.uint64)
    v2 = np.full(n, 0x6C7967656E657261, dtype=np.uint64)
    v3 = np.full(n, 0x7465646279746573, dtype=np.uint64)

    def rounds(k: int) -> None:
        nonlocal v0, v1, v2, v3
        for _ in range(k):
            v0 = v0 + v1
            v1 = _np_rotl(v1, 13) ^ v0
            v0 = _np_rotl(v0, 32)
            v2 = v2 + v3
            v3 = _np_rotl(v3, 16) ^ v2
            v0 = v0 + v3
            v3 = _np_rotl(v3, 21) ^ v0
            v2 = v2 + v1
            v1 = _np_rotl(v1, 17) ^ v2
            v2 = _np_rotl(v2, 32)

    for w in range(max_full):
        active = w < full_words
        m = np.where(active, words[:, w], np.uint64(0))
        s0, s1, s2, s3 = v0.copy(), v1.copy(), v2.copy(), v3.copy()
        v3 = v3 ^ m
        rounds(2)
        v0 = v0 ^ m
        v0 = np.where(active, v0, s0)
        v1 = np.where(active, v1, s1)
        v2 = np.where(active, v2, s2)
        v3 = np.where(active, v3, s3)

    m = words[rows, full_words]
    v3 = v3 ^ m
    rounds(2)
    v0 = v0 ^ m
    v2 = v2 ^ np.uint64(0xEE if ref128 else 0xFF)
    rounds(4)
    return v0, v1, v2, v3
