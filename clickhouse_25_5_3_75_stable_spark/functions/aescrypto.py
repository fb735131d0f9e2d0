"""encrypt / decrypt / tryDecrypt / aes_encrypt_mysql / aes_decrypt_mysql
— exact, from the reference's OpenSSL EVP semantics
(src/Functions/FunctionsAES.h, FunctionsAES.cpp; registrations
encrypt.cpp, decrypt.cpp, tryDecrypt.cpp, aes_{en,de}crypt_mysql.cpp)
re-expressed over the `cryptography` package (same OpenSSL primitives
underneath).

Reference semantics implemented:

- OpenSSL-compatibility family (``encrypt``/``decrypt``/``tryDecrypt``):
  modes aes-{128,192,256}-{ecb,cbc,cfb,cfb8,ofb,ctr,gcm} (validateCipherMode
  whitelist; OpenSSL's bare "cfb" = CFB128). Key must be EXACTLY the
  cipher's key size, IV (when given) exactly the cipher's IV size
  (validateIV). ECB/CBC use EVP's default PKCS7 padding; stream modes
  none. Omitted IV = all-zero IV (EVP's initial cipher-ctx state).
  GCM follows RFC 5116: arbitrary-length IV (>0 required in the
  reference; the cryptography package bounds it to 8..128 bytes —
  the one documented capability narrowing), optional AAD (only GCM
  may set AAD — BAD_ARGUMENTS otherwise), ciphertext with the 16-byte
  tag APPENDED. ``tryDecrypt`` returns NULL where ``decrypt`` would
  raise.
- MySQL-compatibility family (``aes_encrypt_mysql``/``aes_decrypt_mysql``):
  modes ecb/cbc/cfb/ofb only; a LONGER key is folded by XOR into the
  cipher key size (foldEncryptionKeyInMySQLCompatitableMode), a longer
  IV is truncated (shorter raises), no AAD.

Execution shape: Arrow-batched pandas UDFs; the cipher object is
rebuilt per row because key/iv are per-row columns (boundary-tier
functions — encryption of a column is not a scan hot path; at 100 TB
the cost is the AES work itself, which cryptography runs in C).
"""

from __future__ import annotations

import pandas as pd

_KEY_SIZES = {"128": 16, "192": 24, "256": 32}
_OPENSSL_MODES = ("ecb", "cbc", "cfb", "cfb8", "ofb", "ctr", "gcm")
_MYSQL_MODES = ("ecb", "cbc", "cfb", "cfb8", "ofb")


def _parse_mode(mode: str, mysql: bool) -> tuple[int, str]:
    m = mode.strip().lower()
    if not m.startswith("aes-"):
        raise ValueError(f"Invalid mode: {mode!r} (must start with 'aes-')")
    parts = m.split("-")
    if len(parts) != 3 or parts[1] not in _KEY_SIZES:
        raise ValueError(f"Invalid mode: {mode!r}")
    block = parts[2]
    if block == "cfb128":
        block = "cfb"
    allowed = _MYSQL_MODES if mysql else _OPENSSL_MODES
    if block not in allowed:
        raise ValueError(f"Unsupported cipher mode {mode!r}")
    return _KEY_SIZES[parts[1]], block


def _cipher(key: bytes, block: str, iv: bytes):
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    # cryptography 48 deprecates CFB/CFB8/OFB in primitives.ciphers.modes
    # in favor of the decrepit namespace (removal slated for 49)
    try:
        from cryptography.hazmat.decrepit.ciphers import modes as legacy_modes
    except ImportError:
        legacy_modes = modes

    alg = algorithms.AES(key)
    if block == "ecb":
        return Cipher(alg, modes.ECB())
    if block == "cbc":
        return Cipher(alg, modes.CBC(iv))
    if block in ("cfb", "cfb8", "ofb"):
        name = {"cfb": "CFB", "cfb8": "CFB8", "ofb": "OFB"}[block]
        src = legacy_modes if hasattr(legacy_modes, name) else modes
        return Cipher(alg, getattr(src, name)(iv))
    if block == "ctr":
        return Cipher(alg, modes.CTR(iv))
    raise ValueError(block)


def _pkcs7_pad(data: bytes) -> bytes:
    n = 16 - (len(data) % 16)
    return data + bytes([n]) * n


def _pkcs7_unpad(data: bytes) -> bytes:
    if not data or len(data) % 16:
        raise ValueError("invalid padded length")
    n = data[-1]
    if not 1 <= n <= 16 or data[-n:] != bytes([n]) * n:
        raise ValueError("invalid PKCS7 padding")
    return data[:-n]


def _fold_key_mysql(key: bytes, size: int) -> bytes:
    if len(key) < size:
        raise ValueError(f"Invalid key size: {len(key)} expected {size}")
    folded = bytearray(key[:size])
    for i in range(size, len(key)):
        folded[i % size] ^= key[i]
    return bytes(folded)


def encrypt_py(mode: str, data: bytes, key: bytes, iv: bytes | None,
               aad: bytes | None, mysql: bool = False) -> bytes:
    size, block = _parse_mode(mode, mysql)
    if mysql:
        if aad is not None:
            raise ValueError("AAD is not supported in MySQL compatibility mode")
        key = _fold_key_mysql(key, size)
        if iv:
            if block == "ecb":
                iv = b""
            elif len(iv) < 16:
                raise ValueError(f"Invalid IV size: {len(iv)} expected 16")
            else:
                iv = iv[:16]
    else:
        if len(key) != size:
            raise ValueError(f"Invalid key size: {len(key)} expected {size}")
        if block == "gcm":
            from cryptography.hazmat.primitives.ciphers import (
                Cipher,
                algorithms,
                modes,
            )

            if aad is None:
                aad = b""
            if not iv:
                raise ValueError("Invalid IV size 0 != expected size 12")
            enc = Cipher(algorithms.AES(key), modes.GCM(iv)).encryptor()
            enc.authenticate_additional_data(aad)
            ct = enc.update(data) + enc.finalize()
            return ct + enc.tag  # RFC 5116: tag appended
        if aad is not None:
            raise ValueError("AAD can be only set for GCM-mode")
        if block == "ecb" and iv:
            # reference validateIV: ECB's cipher_iv_size is 0, a
            # non-empty IV is BAD_ARGUMENTS in OpenSSL mode
            raise ValueError(f"Invalid IV size: {len(iv)} expected 0")
        if iv is not None and len(iv) not in (0, 16):
            raise ValueError(f"Invalid IV size: {len(iv)} expected 16")
    iv_eff = (iv or b"\x00" * 16) if block != "ecb" else b""
    if block in ("ecb", "cbc"):
        data = _pkcs7_pad(data)
    elif not data:
        return b""  # stream cipher, empty input -> empty output
    enc = _cipher(key, block, iv_eff).encryptor()
    return enc.update(data) + enc.finalize()


def decrypt_py(mode: str, data: bytes, key: bytes, iv: bytes | None,
               aad: bytes | None, mysql: bool = False) -> bytes:
    size, block = _parse_mode(mode, mysql)
    if mysql:
        if aad is not None:
            raise ValueError("AAD is not supported in MySQL compatibility mode")
        key = _fold_key_mysql(key, size)
        if iv:
            if block == "ecb":
                iv = b""
            elif len(iv) < 16:
                raise ValueError(f"Invalid IV size: {len(iv)} expected 16")
            else:
                iv = iv[:16]
    else:
        if len(key) != size:
            raise ValueError(f"Invalid key size: {len(key)} expected {size}")
        if block == "gcm":
            from cryptography.hazmat.primitives.ciphers import (
                Cipher,
                algorithms,
                modes,
            )

            if aad is None:
                aad = b""
            if not iv:
                raise ValueError("Invalid IV size 0 != expected size 12")
            if len(data) < 16:
                raise ValueError("ciphertext shorter than the GCM tag")
            ct, tag = data[:-16], data[-16:]
            dec = Cipher(algorithms.AES(key), modes.GCM(iv, tag)).decryptor()
            dec.authenticate_additional_data(aad)
            return dec.update(ct) + dec.finalize()
        if aad is not None:
            raise ValueError("AAD can be only set for GCM-mode")
        # mirror encrypt_py's OpenSSL-mode IV validation (reference
        # validateIV raises BAD_ARGUMENTS on BOTH directions —
        # review-found: decrypt silently ignored ECB-with-IV)
        if block == "ecb" and iv:
            raise ValueError(f"Invalid IV size: {len(iv)} expected 0")
        if iv is not None and len(iv) not in (0, 16):
            raise ValueError(f"Invalid IV size: {len(iv)} expected 16")
    iv_eff = (iv or b"\x00" * 16) if block != "ecb" else b""
    if block not in ("ecb", "cbc") and not data:
        return b""
    dec = _cipher(key, block, iv_eff).decryptor()
    out = dec.update(data) + dec.finalize()
    if block in ("ecb", "cbc"):
        out = _pkcs7_unpad(out)
    return out


# ---------------------------------------------------------------------------
# Arrow-batched kernels (their pandas UDFs are rows of functions/udfs.py:
# mode, input, key, iv[, aad], a missing iv/aad padded with NULL)
# ---------------------------------------------------------------------------

def _b(v) -> bytes | None:
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return str(v).encode("utf-8")


def _crypt_fn(op, mysql: bool, try_mode: bool = False):
    impl = encrypt_py if op == "enc" else decrypt_py

    def run(mode: pd.Series, data: pd.Series, key: pd.Series,
            iv: pd.Series, aad: pd.Series | None = None) -> pd.Series:
        out = []
        no_aad = [None] * len(mode)
        for m, d, k, i, a in zip(mode, data, key, iv, no_aad if aad is None else aad):
            if m is None or d is None or k is None:
                out.append(None)
                continue
            try:
                out.append(impl(str(m), _b(d), _b(k), _b(i), _b(a), mysql))
            except Exception:
                if try_mode:
                    out.append(None)
                else:
                    raise
        return pd.Series(out, dtype=object)

    return run


_encrypt_fn = _crypt_fn("enc", False)
_decrypt_fn = _crypt_fn("dec", False)
_try_decrypt_fn = _crypt_fn("dec", False, True)
_mysql_encrypt_fn = _crypt_fn("enc", True)  # MySQL forms: no aad
_mysql_decrypt_fn = _crypt_fn("dec", True)
