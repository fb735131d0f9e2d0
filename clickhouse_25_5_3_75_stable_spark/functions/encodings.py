"""Encoding / checksum / space-filling-curve long tail — exact.

Closes the last "UDF path if demanded" block of CH_FUNCTIONS_EXCLUDED
(SURVEY §2.8):

- base32Encode/base32Decode/tryBase32Decode — RFC 4648 upper-case with
  '=' padding (reference src/Common/Base32.h: encodeBase32 pads to a
  multiple of 8, decodeBase32 requires len%8==0 and accepts lower-case).
- base58Encode/base58Decode/tryBase58Decode — Bitcoin alphabet bignum
  (reference src/Common/Base58.cpp:9 alphabet; leading zero bytes map
  to '1's).
- CRC32 / CRC32IEEE / CRC64 — reference src/Functions/CRC.cpp:
  CRC32 = crc32_z(0, ...) i.e. standard zlib CRC-32 (init ~0, xorout);
  CRC32IEEE = same reflected poly 0xedb88320 but init 0, NO xorout;
  CRC64 = reflected poly 0xc96c5795d7870f42 (ECMA), init 0, NO xorout
  (NOT CRC-64/XZ, which inverts in and out). Each is dual-computed in
  tests: table-driven vs naive bit-by-bit.
- SHA512_256 / RIPEMD160 — OpenSSL digests through hashlib (both
  available in this runtime); hex-string rendering, the repo-wide
  digest stance set by MD5/SHA256 in dialect.py:600.
- keccak256 — original Keccak-256 (0x01 domain padding, NOT NIST
  SHA3's 0x06) — pure-python keccak-f[1600]; anchored on the
  well-known empty-string digest c5d24601...
- mortonEncode/mortonDecode — bit-interleave Z-curve, 1-8 dims, first
  argument in the LEAST significant interleave slot (morton-nd
  convention used by the reference, src/Functions/mortonEncode.cpp);
  per-dim field width floor(64/n) bits, overflow masked to zero.
  Expanded (range-mask tuple) mode: expand(ratio, v) spreads v by
  `ratio` into the ratio-D encoder's LAST slot (mortonEncode.cpp:159),
  then the outer n-D interleave applies.
- hilbertEncode/hilbertDecode — 2-D Hilbert curve, bit_step=3 state
  LUT transcribed from src/Functions/hilbertEncode2DLUT.h /
  hilbertDecode2DLUT.h (the tables are published algorithm data).
  >32 used bits → 0 (encode overflow clamp). Expanded mode shifts each
  argument left by its mask ratio (hilbertEncode.cpp:58).
- bitSlice — bit-granular substring (src/Functions/bitSlice.cpp):
  1-based bit offset, negative offset counts from the end, optional
  length (negative = leave that many bits off the END of the string),
  output MSB-aligned with the final partial byte zero-padded; offset 0
  yields empty; a negative offset beyond the string starts at bit 0
  byte-aligned (the reference's left_truncate path).

Execution shape: everything is an Arrow-batched pandas UDF (a row of
functions/udfs.py); the morton spread/compact is numpy over the whole
batch (≤32 vector ops), CRC is a numpy uint64 table walk per row, the
rest are per-row Python on boundary-tier functions (none are scan hot
paths at 100 TB — the sharding-key hashes live in hashes_extra*.py).
"""

from __future__ import annotations

import base64
import hashlib

import numpy as np
import pandas as pd

_M64 = 0xFFFFFFFFFFFFFFFF

# ---------------------------------------------------------------------------
# base58 (Bitcoin alphabet)
# ---------------------------------------------------------------------------

_B58_ALPHABET = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_B58_INDEX = {c: i for i, c in enumerate(_B58_ALPHABET)}


def base58_encode_py(b: bytes) -> str:
    n_zeros = len(b) - len(b.lstrip(b"\x00"))
    num = int.from_bytes(b, "big")
    out = []
    while num:
        num, rem = divmod(num, 58)
        out.append(_B58_ALPHABET[rem])
    return "1" * n_zeros + "".join(reversed(out))


def base58_decode_py(s: str) -> bytes:
    num = 0
    for ch_ in s:
        try:
            num = num * 58 + _B58_INDEX[ch_]
        except KeyError:
            raise ValueError(f"invalid base58 character {ch_!r}") from None
    n_ones = len(s) - len(s.lstrip("1"))
    body = num.to_bytes((num.bit_length() + 7) // 8, "big") if num else b""
    return b"\x00" * n_ones + body


# ---------------------------------------------------------------------------
# base32 (RFC 4648, '=' padded; decode case-insensitive, len%8 enforced
# like the reference's decodeBase32)
# ---------------------------------------------------------------------------

def base32_encode_py(b: bytes) -> str:
    return base64.b32encode(b).decode("ascii")


def base32_decode_py(s: str) -> bytes:
    if len(s) % 8 != 0:
        raise ValueError("base32 input length must be a multiple of 8")
    return base64.b32decode(s, casefold=True)


# ---------------------------------------------------------------------------
# CRC (reference CRC.cpp: reflected table walk, init 0, no xorout for
# CRC32IEEE / CRC64; zlib semantics for CRC32)
# ---------------------------------------------------------------------------

def _crc_table(poly: int) -> np.ndarray:
    tab = np.zeros(256, dtype=np.uint64)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (poly ^ (c >> 1)) if (c & 1) else (c >> 1)
        tab[i] = c
    return tab


_CRC64_TAB = _crc_table(0xC96C5795D7870F42)
_CRC32IEEE_TAB = _crc_table(0xEDB88320)


def _crc_run(tab: np.ndarray, data: bytes, mask: int) -> int:
    crc = 0
    t = tab
    for byte in data:
        crc = int(t[(crc ^ byte) & 0xFF]) ^ (crc >> 8)
    return crc & mask


def crc64_py(data: bytes) -> int:
    return _crc_run(_CRC64_TAB, data, _M64)


def crc32ieee_py(data: bytes) -> int:
    return _crc_run(_CRC32IEEE_TAB, data, 0xFFFFFFFF)


# ---------------------------------------------------------------------------
# keccak256 — original Keccak (pre-NIST padding 0x01). keccak-f[1600].
# ---------------------------------------------------------------------------

_KECCAK_RC = (
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
)
# rotation offsets r[x][y]
_KECCAK_ROT = (
    (0, 36, 3, 41, 18),
    (1, 44, 10, 45, 2),
    (62, 6, 43, 15, 61),
    (28, 55, 25, 21, 56),
    (27, 20, 39, 8, 14),
)


def _rol64(v: int, n: int) -> int:
    n &= 63
    return ((v << n) | (v >> (64 - n))) & _M64 if n else v


def _keccak_f(a: list[list[int]]) -> None:
    for rc in _KECCAK_RC:
        # theta
        c = [a[x][0] ^ a[x][1] ^ a[x][2] ^ a[x][3] ^ a[x][4] for x in range(5)]
        d = [c[(x - 1) % 5] ^ _rol64(c[(x + 1) % 5], 1) for x in range(5)]
        for x in range(5):
            for y in range(5):
                a[x][y] ^= d[x]
        # rho + pi
        b = [[0] * 5 for _ in range(5)]
        for x in range(5):
            for y in range(5):
                b[y][(2 * x + 3 * y) % 5] = _rol64(a[x][y], _KECCAK_ROT[x][y])
        # chi
        for x in range(5):
            for y in range(5):
                a[x][y] = b[x][y] ^ ((~b[(x + 1) % 5][y]) & b[(x + 2) % 5][y] & _M64)
        # iota
        a[0][0] ^= rc


def keccak256_py(data: bytes) -> bytes:
    rate = 136  # 1088-bit rate for 256-bit output
    a = [[0] * 5 for _ in range(5)]
    # pad: 0x01 ... 0x80 (original Keccak domain byte)
    padded = bytearray(data)
    pad_len = rate - (len(padded) % rate)
    padded += b"\x01" + b"\x00" * (pad_len - 2) + b"\x80" if pad_len >= 2 else b"\x81"
    for off in range(0, len(padded), rate):
        block = padded[off:off + rate]
        for i in range(rate // 8):
            lane = int.from_bytes(block[8 * i:8 * i + 8], "little")
            a[i % 5][i // 5] ^= lane
        _keccak_f(a)
    out = bytearray()
    for i in range(4):  # 32 bytes = 4 lanes
        out += a[i % 5][i // 5].to_bytes(8, "little")
    return bytes(out)


# ---------------------------------------------------------------------------
# Morton (Z-curve) — numpy-vectorized bit spread/compact
# ---------------------------------------------------------------------------

_FIELD_BITS = {1: 64, 2: 32, 3: 21, 4: 16, 5: 12, 6: 10, 7: 9, 8: 8}


def _spread_np(v: np.ndarray, n: int) -> np.ndarray:
    """Insert n-1 zero bits between the low FIELD_BITS[n] bits of v."""
    if n == 1:
        return v.copy()
    bits = _FIELD_BITS[n]
    v = v & np.uint64((1 << bits) - 1)
    out = np.zeros_like(v)
    for j in range(bits):
        out |= ((v >> np.uint64(j)) & np.uint64(1)) << np.uint64(j * n)
    return out


def _compact_np(code: np.ndarray, n: int, idx: int) -> np.ndarray:
    """Extract field idx (bit j of the field sits at code bit j*n+idx)."""
    if n == 1:
        return code.copy()
    bits = _FIELD_BITS[n]
    out = np.zeros_like(code)
    for j in range(bits):
        out |= ((code >> np.uint64(j * n + idx)) & np.uint64(1)) << np.uint64(j)
    return out


def morton_encode_np(vals: list[np.ndarray], ratios: list[int] | None = None) -> np.ndarray:
    """reference mortonEncode.cpp EXECUTE(): nd = len(vals); each value
    optionally range-expanded by its mask ratio (spread into the
    ratio-D encoder's last slot), masked to the nd-D input width, then
    interleaved with the first value least-significant."""
    n = len(vals)
    out = np.zeros_like(vals[0])
    for i, v in enumerate(vals):
        if ratios is not None and ratios[i] != 1:
            r = ratios[i]
            v = _spread_np(v, r) << np.uint64(r - 1)
        out |= _spread_np(v, n) << np.uint64(i)
    return out


def morton_decode_np(code: np.ndarray, n: int, ratios: list[int] | None = None) -> list[np.ndarray]:
    fields = [_compact_np(code, n, i) for i in range(n)]
    if ratios is not None:
        for i, r in enumerate(ratios):
            if r != 1:
                # shrink = last field of the r-D decode of the expanded value
                fields[i] = _compact_np(fields[i] >> np.uint64(r - 1), r, 0)
    return fields


# ---------------------------------------------------------------------------
# Hilbert 2D — bit_step=3 state LUT (hilbertEncode2DLUT.h /
# hilbertDecode2DLUT.h; the tables are the reference's published
# algorithm constants)
# ---------------------------------------------------------------------------

_HIL_ENC = (
    64, 1, 206, 79, 16, 211, 84, 21, 131, 2, 205, 140, 81, 82, 151, 22, 4,
    199, 8, 203, 158, 157, 88, 25, 69, 70, 73, 74, 31, 220, 155, 26, 186,
    185, 182, 181, 32, 227, 100, 37, 59, 248, 55, 244, 97, 98, 167, 38, 124,
    61, 242, 115, 174, 173, 104, 41, 191, 62, 241, 176, 47, 236, 171, 42, 0,
    195, 68, 5, 250, 123, 60, 255, 65, 66, 135, 6, 249, 184, 125, 126, 142,
    141, 72, 9, 246, 119, 178, 177, 15, 204, 139, 10, 245, 180, 51, 240, 80,
    17, 222, 95, 96, 33, 238, 111, 147, 18, 221, 156, 163, 34, 237, 172, 20,
    215, 24, 219, 36, 231, 40, 235, 85, 86, 89, 90, 101, 102, 105, 106, 170,
    169, 166, 165, 154, 153, 150, 149, 43, 232, 39, 228, 27, 216, 23, 212, 108,
    45, 226, 99, 92, 29, 210, 83, 175, 46, 225, 160, 159, 30, 209, 144, 48,
    243, 116, 53, 202, 75, 12, 207, 113, 114, 183, 54, 201, 136, 77, 78, 190,
    189, 120, 57, 198, 71, 130, 129, 63, 252, 187, 58, 197, 132, 3, 192, 234,
    107, 44, 239, 112, 49, 254, 127, 233, 168, 109, 110, 179, 50, 253, 188, 230,
    103, 162, 161, 52, 247, 56, 251, 229, 164, 35, 224, 117, 118, 121, 122, 218,
    91, 28, 223, 138, 137, 134, 133, 217, 152, 93, 94, 11, 200, 7, 196, 214,
    87, 146, 145, 76, 13, 194, 67, 213, 148, 19, 208, 143, 14, 193, 128,
)
_HIL_DEC = (
    64, 1, 9, 136, 16, 88, 89, 209, 18, 90, 91, 211, 139, 202, 194, 67,
    4, 76, 77, 197, 70, 7, 15, 142, 86, 23, 31, 158, 221, 149, 148, 28,
    36, 108, 109, 229, 102, 39, 47, 174, 118, 55, 63, 190, 253, 181, 180, 60,
    187, 250, 242, 115, 235, 163, 162, 42, 233, 161, 160, 40, 112, 49, 57, 184,
    0, 72, 73, 193, 66, 3, 11, 138, 82, 19, 27, 154, 217, 145, 144, 24,
    96, 33, 41, 168, 48, 120, 121, 241, 50, 122, 123, 243, 171, 234, 226, 99,
    100, 37, 45, 172, 52, 124, 125, 245, 54, 126, 127, 247, 175, 238, 230, 103,
    223, 151, 150, 30, 157, 220, 212, 85, 141, 204, 196, 69, 6, 78, 79, 199,
    255, 183, 182, 62, 189, 252, 244, 117, 173, 236, 228, 101, 38, 110, 111, 231,
    159, 222, 214, 87, 207, 135, 134, 14, 205, 133, 132, 12, 84, 21, 29, 156,
    155, 218, 210, 83, 203, 131, 130, 10, 201, 129, 128, 8, 80, 17, 25, 152,
    32, 104, 105, 225, 98, 35, 43, 170, 114, 51, 59, 186, 249, 177, 176, 56,
    191, 254, 246, 119, 239, 167, 166, 46, 237, 165, 164, 44, 116, 53, 61, 188,
    251, 179, 178, 58, 185, 248, 240, 113, 169, 232, 224, 97, 34, 106, 107, 227,
    219, 147, 146, 26, 153, 216, 208, 81, 137, 200, 192, 65, 2, 74, 75, 195,
    68, 5, 13, 140, 20, 92, 93, 213, 22, 94, 95, 215, 143, 206, 198, 71,
)

_HIL_LEFT_STATE = 0b01 << 6
_HIL_STATE_MASK = 0b11 << 6
_HIL_CODE_MASK = (1 << 6) - 1


def hilbert_encode_py(x: int, y: int) -> int:
    used_bits = (x | y).bit_length()
    if used_bits > 32:
        return 0
    iterations = used_bits // 3
    shift = iterations * 3
    if shift < used_bits:
        iterations += 1
    else:
        shift -= 3
    # DEFAULT_STATE for odd bit_step is 0
    state = _HIL_LEFT_STATE if iterations % 2 == 0 else 0
    out = 0
    while shift >= 0:
        xb = (x >> shift) & 7
        yb = (y >> shift) & 7
        t = _HIL_ENC[state | (xb << 3) | yb]
        state = t & _HIL_STATE_MASK
        out |= (t & _HIL_CODE_MASK) << (shift << 1)
        shift -= 3
    return out


def hilbert_decode_py(code: int) -> tuple[int, int]:
    code &= _M64
    used_bits = code.bit_length()
    iterations = used_bits // 6
    shift = iterations * 6
    if shift < used_bits:
        iterations += 1
    else:
        shift -= 6
    state = _HIL_LEFT_STATE if iterations % 2 == 0 else 0
    x = y = 0
    while shift >= 0:
        h = (code >> shift) & _HIL_CODE_MASK
        t = _HIL_DEC[state | h]
        state = t & _HIL_STATE_MASK
        x |= ((t >> 3) & 7) << (shift >> 1)
        y |= (t & 7) << (shift >> 1)
        shift -= 6
    return x, y


# ---------------------------------------------------------------------------
# bitSlice
# ---------------------------------------------------------------------------

def bit_slice_py(data: bytes, start: int, length: int | None = None) -> bytes:
    """Bit-granular substring; see module docstring for the boundary
    rules (mirrors bitSlice.cpp's FromLeft/FromRight bounded paths)."""
    nbits = len(data) * 8
    if start == 0:
        return b""
    if start > 0:
        s0 = start - 1
        if s0 >= nbits:
            return b""
    else:
        s0 = nbits + start
        if s0 < 0:
            s0 = 0  # left_truncate: whole string, byte-aligned
    if length is None:
        e = nbits
    elif length >= 0:
        e = min(s0 + length, nbits)
    else:
        e = nbits + length
    if e <= s0:
        return b""
    total = int.from_bytes(data, "big") if data else 0
    width = e - s0
    sliced = (total >> (nbits - e)) & ((1 << width) - 1)
    out_bytes = (width + 7) // 8
    # MSB-align: pad zeros at the LOW end of the final byte
    sliced <<= out_bytes * 8 - width
    return sliced.to_bytes(out_bytes, "big")


# ---------------------------------------------------------------------------
# BLAKE3 — the published spec (reference FunctionsStringHashFixedString
# .cpp ImplBLAKE3 wraps llvm::BLAKE3; no BLAKE3 provider exists in this
# runtime, so this is a direct transcription of the public algorithm:
# 7-round compression over the SHA-256 IV, the fixed message
# permutation, 1024-byte chunks, and the binary merge tree whose left
# subtree is the largest power-of-two chunk count strictly below the
# total). Validated in tests/test_encodings.py against the two widely
# published digests (empty string, "hello world" — the latter matched
# bit-for-bit on first run, confirming the compression function) plus
# a DUAL tree construction: the recursive split here against the
# official stack-based incremental merge, agreeing for 1..70 chunks.
# Unkeyed 32-byte hash only (the CH surface is FixedString(32)).
# ---------------------------------------------------------------------------

_B3_IV = (0x6A09E667, 0xBB67AE85, 0x3C6EF372, 0xA54FF53A,
          0x510E527F, 0x9B05688C, 0x1F83D9AB, 0x5BE0CD19)
_B3_PERM = (2, 6, 3, 10, 7, 0, 4, 13, 1, 11, 12, 5, 9, 14, 15, 8)
_B3_CHUNK_START, _B3_CHUNK_END, _B3_PARENT, _B3_ROOT = 1, 2, 4, 8
_M32 = 0xFFFFFFFF


def _b3_g(s, a, b, c, d, mx, my):
    s[a] = (s[a] + s[b] + mx) & _M32
    x = s[d] ^ s[a]
    s[d] = ((x >> 16) | (x << 16)) & _M32
    s[c] = (s[c] + s[d]) & _M32
    x = s[b] ^ s[c]
    s[b] = ((x >> 12) | (x << 20)) & _M32
    s[a] = (s[a] + s[b] + my) & _M32
    x = s[d] ^ s[a]
    s[d] = ((x >> 8) | (x << 24)) & _M32
    s[c] = (s[c] + s[d]) & _M32
    x = s[b] ^ s[c]
    s[b] = ((x >> 7) | (x << 25)) & _M32


def _b3_compress(cv, block_words, counter, blen, flags):
    s = list(cv) + list(_B3_IV[:4]) + [counter & _M32, (counter >> 32) & _M32,
                                       blen, flags]
    m = list(block_words)
    for r in range(7):
        _b3_g(s, 0, 4, 8, 12, m[0], m[1])
        _b3_g(s, 1, 5, 9, 13, m[2], m[3])
        _b3_g(s, 2, 6, 10, 14, m[4], m[5])
        _b3_g(s, 3, 7, 11, 15, m[6], m[7])
        _b3_g(s, 0, 5, 10, 15, m[8], m[9])
        _b3_g(s, 1, 6, 11, 12, m[10], m[11])
        _b3_g(s, 2, 7, 8, 13, m[12], m[13])
        _b3_g(s, 3, 4, 9, 14, m[14], m[15])
        if r < 6:
            m = [m[p] for p in _B3_PERM]
    return [(s[i] ^ s[i + 8]) & _M32 for i in range(8)]


def _b3_words(b: bytes) -> list[int]:
    return [int.from_bytes(b[4 * i:4 * i + 4], "little") for i in range(16)]


def _b3_chunk_cv(chunk: bytes, index: int, is_root: bool) -> list[int]:
    cv = list(_B3_IV)
    blocks = [chunk[i:i + 64] for i in range(0, len(chunk), 64)] or [b""]
    for bi, blk in enumerate(blocks):
        flags = 0
        if bi == 0:
            flags |= _B3_CHUNK_START
        if bi == len(blocks) - 1:
            flags |= _B3_CHUNK_END
            if is_root:
                flags |= _B3_ROOT
        padded = blk + b"\x00" * (64 - len(blk))
        cv = _b3_compress(cv, _b3_words(padded), index, len(blk), flags)
    return cv


def _b3_parent(left, right, is_root: bool) -> list[int]:
    block = b"".join(w.to_bytes(4, "little") for w in left + right)
    flags = _B3_PARENT | (_B3_ROOT if is_root else 0)
    return _b3_compress(list(_B3_IV), _b3_words(block), 0, 64, flags)


def _b3_merge(cvs: list[list[int]], is_root: bool) -> list[int]:
    if len(cvs) == 1:
        return cvs[0]
    p = 1
    while p * 2 < len(cvs):
        p *= 2
    return _b3_parent(_b3_merge(cvs[:p], False), _b3_merge(cvs[p:], False),
                      is_root)


def blake3_py(data: bytes) -> bytes:
    chunks = [data[i:i + 1024] for i in range(0, len(data), 1024)] or [b""]
    if len(chunks) == 1:
        cv = _b3_chunk_cv(chunks[0], 0, True)
    else:
        cv = _b3_merge([_b3_chunk_cv(c, i, False)
                        for i, c in enumerate(chunks)], True)
    return b"".join(w.to_bytes(4, "little") for w in cv)


# ---------------------------------------------------------------------------
# MD4 — RFC 1320 (reference FunctionsStringHashFixedString.cpp
# registers MD4 via OpenSSL; OpenSSL 3 ships it only in the legacy
# provider, absent from this runtime's hashlib — so a direct
# transcription of the published RFC algorithm, validated against the
# RFC's own test vectors AND the reference's doc vector
# MD4('abc') = A448017AAF21D8525FC10AE87AA6729D).
# ---------------------------------------------------------------------------

def md4_py(data: bytes) -> bytes:
    mask = 0xFFFFFFFF

    def rot(v: int, n: int) -> int:
        v &= mask
        return ((v << n) | (v >> (32 - n))) & mask

    msg = bytearray(data)
    ml = (len(data) * 8) & 0xFFFFFFFFFFFFFFFF
    msg.append(0x80)
    while len(msg) % 64 != 56:
        msg.append(0)
    msg += ml.to_bytes(8, "little")

    h0, h1, h2, h3 = 0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476
    for off in range(0, len(msg), 64):
        x = [int.from_bytes(msg[off + 4 * i:off + 4 * i + 4], "little")
             for i in range(16)]
        a, b, c, d = h0, h1, h2, h3
        # round 1: F = (b&c)|(~b&d), shifts 3/7/11/19, k = i
        s1 = (3, 7, 11, 19)
        for i in range(16):
            f = (b & c) | (~b & d & mask)
            a, d, c, b = d, c, b, rot(a + f + x[i], s1[i % 4])
        # round 2: G = majority, +0x5A827999, shifts 3/5/9/13,
        # k = column-major 0,4,8,12,1,5,...
        s2 = (3, 5, 9, 13)
        for i in range(16):
            k = (i % 4) * 4 + i // 4
            g = (b & c) | (b & d) | (c & d)
            a, d, c, b = d, c, b, rot(a + g + x[k] + 0x5A827999, s2[i % 4])
        # round 3: H = xor, +0x6ED9EBA1, shifts 3/9/11/15,
        # k = 0,8,4,12,2,10,6,14,1,9,5,13,3,11,7,15
        s3 = (3, 9, 11, 15)
        k3 = (0, 8, 4, 12, 2, 10, 6, 14, 1, 9, 5, 13, 3, 11, 7, 15)
        for i in range(16):
            hh = b ^ c ^ d
            a, d, c, b = d, c, b, rot(a + hh + x[k3[i]] + 0x6ED9EBA1, s3[i % 4])
        h0 = (h0 + a) & mask
        h1 = (h1 + b) & mask
        h2 = (h2 + c) & mask
        h3 = (h3 + d) & mask
    return b"".join(v.to_bytes(4, "little") for v in (h0, h1, h2, h3))


# ---------------------------------------------------------------------------
# ICU-tier text transforms — exact via the Python runtime's Unicode
# machinery (reference src/Functions/normalizeString.cpp uses ICU
# unorm2; unicodedata.normalize is the same published Unicode
# normalization algorithm. punycode.cpp / idna.cpp use ada::idna —
# Python's RFC 3492 'punycode' codec and the UTS-46 `idna` package
# cover the same specs; convertCharset.cpp uses ICU converters —
# Python codecs with substitution on unmappable output, ICU's default
# callback behavior).
#
# Error semantics from the reference:
#   punycodeEncode   — garbage-in/garbage-out (never throws)
#   punycodeDecode   — THROWS on invalid; tryPunycodeDecode → ''
#   idnaEncode       — THROWS when not convertible; tryIdnaEncode → ''
#   idnaDecode       — invalid input returned as-is (never throws)
# ---------------------------------------------------------------------------

def normalize_utf8_py(form: str, s: str) -> str:
    import unicodedata

    return unicodedata.normalize(form, s)


def punycode_encode_py(s: str) -> str:
    return s.encode("punycode").decode("ascii")


def punycode_decode_py(s: str) -> str:
    return s.encode("ascii").decode("punycode")


def idna_encode_py(s: str) -> str:
    if not s:
        return ""
    import idna as _idna

    try:
        return _idna.encode(s, uts46=True).decode("ascii")
    except _idna.IDNAError as e:
        raise ValueError(f"{s!r} cannot be converted to ASCII") from e


def idna_decode_py(s: str) -> str:
    if not s:
        return ""
    import idna as _idna

    try:
        return _idna.decode(s, uts46=True)
    except _idna.IDNAError:
        return s  # reference: invalid inputs are returned as-is


_CHARSET_ALIASES = {
    "latin1": "latin-1", "iso-8859-1": "latin-1", "iso8859-1": "latin-1",
    "windows-1251": "cp1251", "windows-1252": "cp1252",
    "koi8-r": "koi8_r", "us-ascii": "ascii",
}


def convert_charset_py(s: str, src: str, dst: str) -> str:
    import codecs

    def resolve(name: str):
        n = name.strip().lower()
        return codecs.lookup(_CHARSET_ALIASES.get(n, n))

    # The CH column carries bytes in `src` charset rendered through a
    # String; Python strings are already Unicode, so the faithful
    # model is: re-encode the codepoints as `src` bytes (latin-1
    # transport for 0-255), decode as src, encode to dst, transport
    # back as a latin-1-safe string. In practice CH users feed UTF-8
    # text; for that case this is decode(utf8)->encode(dst).
    src_codec, dst_codec = resolve(src), resolve(dst)
    data = s.encode("latin-1", "replace") if src_codec.name != "utf-8" else s.encode("utf-8")
    text = data.decode(src_codec.name, "replace")
    out = text.encode(dst_codec.name, "replace")
    return out.decode("latin-1") if dst_codec.name != "utf-8" else out.decode("utf-8")


# ---------------------------------------------------------------------------
# Arrow-batched kernels (their pandas UDFs are rows of functions/udfs.py)
# ---------------------------------------------------------------------------

def _as_bytes(v) -> bytes:
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return str(v).encode("utf-8")


def _map_str(fn):
    def run(s: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else fn(_as_bytes(v)) for v in s], dtype=object
        )

    return run


def _i64(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def _b58_encode_fn(s: pd.Series) -> pd.Series:
    return _map_str(base58_encode_py)(s)


def _b58_decode_fn(s: pd.Series) -> pd.Series:
    return pd.Series(
        [None if v is None else base58_decode_py(str(v)) for v in s], dtype=object
    )


def _b58_try_decode_fn(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
        else:
            try:
                out.append(base58_decode_py(str(v)))
            except ValueError:
                out.append(None)
    return pd.Series(out, dtype=object)


def _b32_encode_fn(s: pd.Series) -> pd.Series:
    return _map_str(base32_encode_py)(s)


def _b32_decode_fn(s: pd.Series) -> pd.Series:
    return pd.Series(
        [None if v is None else base32_decode_py(str(v)) for v in s], dtype=object
    )


def _b32_try_decode_fn(s: pd.Series) -> pd.Series:
    out = []
    for v in s:
        if v is None:
            out.append(None)
        else:
            try:
                out.append(base32_decode_py(str(v)))
            except (ValueError, TypeError):
                out.append(None)
    return pd.Series(out, dtype=object)


def _crc_fn(kind):
    impl = {"crc32ieee": crc32ieee_py, "crc64": crc64_py}[kind]
    signed = kind == "crc64"

    def run(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append(None)
            else:
                u = impl(_as_bytes(v))
                out.append(_i64(u) if signed else u)
        return pd.Series(out, dtype=object)

    return run


def _digest_fn(kind):
    if kind == "keccak256":
        impl = lambda b: keccak256_py(b).hex()  # noqa: E731
    else:
        impl = lambda b: hashlib.new(kind, b).hexdigest()  # noqa: E731

    def run(s: pd.Series) -> pd.Series:
        return _map_str(impl)(s)

    return run


def _morton_encode_fn(ratios: pd.Series, vals: pd.Series) -> pd.Series:
    out = []
    for r, v in zip(ratios, vals):
        if v is None or any(x is None for x in v):
            out.append(None)
            continue
        arrs = [np.array([int(x) & _M64], dtype=np.uint64) for x in v]
        rl = None if r is None else [int(x) for x in r]
        code = morton_encode_np(arrs, rl)[0]
        out.append(_i64(int(code)))
    return pd.Series(out, dtype=object)


def _morton_decode_fn(ratios: pd.Series, codes: pd.Series) -> pd.Series:
    out = []
    for r, c in zip(ratios, codes):
        if c is None or r is None:
            out.append(None)
            continue
        rl = [int(x) for x in r]
        code = np.array([int(c) & _M64], dtype=np.uint64)
        fields = morton_decode_np(code, len(rl), rl)
        out.append([_i64(int(f[0])) for f in fields])
    return pd.Series(out, dtype=object)


def _hilbert_encode_fn(ratios: pd.Series, vals: pd.Series) -> pd.Series:
    out = []
    for r, v in zip(ratios, vals):
        if v is None or any(x is None for x in v):
            out.append(None)
            continue
        rl = [0] * len(v) if r is None else [int(x) for x in r]
        shifted = [(int(x) & _M64) << s & _M64 for x, s in zip(v, rl)]
        if len(shifted) == 1:
            out.append(_i64(shifted[0]))
        else:
            out.append(_i64(hilbert_encode_py(shifted[0], shifted[1])))
    return pd.Series(out, dtype=object)


def _hilbert_decode_fn(ratios: pd.Series, codes: pd.Series) -> pd.Series:
    out = []
    for r, c in zip(ratios, codes):
        if c is None or r is None:
            out.append(None)
            continue
        rl = [int(x) for x in r]
        if len(rl) == 1:
            out.append([_i64((int(c) & _M64) >> rl[0])])
        else:
            x, y = hilbert_decode_py(int(c))
            out.append([_i64(x >> rl[0]), _i64(y >> rl[1])])
    return pd.Series(out, dtype=object)


def _bitslice_fn(s: pd.Series, start: pd.Series, length: pd.Series) -> pd.Series:
    out = []
    for v, st, ln in zip(s, start, length):
        if v is None or st is None:
            out.append(None)
        else:
            # a BIGINT length holding NULLs arrives as float64 NaN
            out.append(bit_slice_py(_as_bytes(v), int(st),
                                    None if pd.isna(ln) else int(ln)))
    return pd.Series(out, dtype=object)


def _map_text(fn, on_error=None):
    """String->string row map; on_error: None = propagate (query
    fails, the reference's Throw mode), 'empty' = '', 'keep' = input."""

    def run(s: pd.Series) -> pd.Series:
        out = []
        for v in s:
            if v is None:
                out.append(None)
                continue
            try:
                out.append(fn(str(v)))
            except (ValueError, UnicodeError, LookupError):
                if on_error == "empty":
                    out.append("")
                elif on_error == "keep":
                    out.append(str(v))
                else:
                    raise
        return pd.Series(out, dtype=object)

    return run


def _normalize_fn(form):
    return _map_text(lambda s: normalize_utf8_py(form, s))


def _convert_charset_fn(s: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    out = []
    for v, f, t in zip(s, src, dst):
        if v is None or f is None or t is None:
            out.append(None)
        else:
            out.append(convert_charset_py(str(v), str(f), str(t)))
    return pd.Series(out, dtype=object)


# one module attribute per row of functions/udfs.py
_crc32ieee_fn = _crc_fn("crc32ieee")
_crc64_fn = _crc_fn("crc64")
_sha512_256_fn = _digest_fn("sha512_256")
_ripemd160_fn = _digest_fn("ripemd160")
_keccak256_fn = _digest_fn("keccak256")
_md4_fn = _map_str(md4_py)
_blake3_fn = _map_str(blake3_py)
_nfc_fn = _normalize_fn("NFC")
_nfd_fn = _normalize_fn("NFD")
_nfkc_fn = _normalize_fn("NFKC")
_nfkd_fn = _normalize_fn("NFKD")
_punycode_encode_fn = _map_text(punycode_encode_py, "empty")
_punycode_decode_fn = _map_text(punycode_decode_py)
_try_punycode_decode_fn = _map_text(punycode_decode_py, "empty")
_idna_encode_fn = _map_text(idna_encode_py)
_try_idna_encode_fn = _map_text(idna_encode_py, "empty")
_idna_decode_fn = _map_text(idna_decode_py, "keep")
