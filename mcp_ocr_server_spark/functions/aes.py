"""AES-128/192/256 (FIPS-197 re-derivation) in stdlib + numpy, with the
CBC encrypt chain in C where the native library builds — the cipher
backend for the PDF standard security handler's AESV2/AESV3
crypt filters (functions/pdfcrypt.py).

Design notes, because this runs inside executors:

  - **Decrypt is the hot path** (every stream of every AES-encrypted
    document) and CBC *decryption* is embarrassingly parallel
    (P_i = D(C_i) XOR C_{i-1}), so block decryption is VECTORIZED in
    numpy across all blocks of a payload at once — the state is an
    (n_blocks, 4, 4) uint8 array and each round is four table-gathers
    plus XORs.  A 1 MiB stream decrypts in one shot instead of 65k
    Python-loop iterations.
  - **Encrypt is a sequential chain** (corpus generation, /Perms,
    and the R6 hash's CBC chain, which is sequential by construction:
    each Algorithm 2.B hash runs 64 or more chains of 128 or more
    blocks), so it runs in C (`native.aes_cbc_encrypt`): the
    key schedule and a T-table round loop — four 256-entry uint32
    tables folding SubBytes+ShiftRows+MixColumns per FIPS-197 §5.1 /
    the classic Rijndael reference layout — over tables this module
    derives and passes in.  `_cbc_encrypt_words` is the same loop on
    Python ints: the fallback where the library cannot be built, and
    the reference the C loop is tested against.  It unpacks the input
    once into 32-bit words and keeps the CBC chain as four ints, so a
    block pays no per-block bytes conversion.
  - All tables are DERIVED at import (GF(2^8) exp/log over generator
    0x03, the §5.1.1 affine map) rather than pasted as literals —
    self-checking against the FIPS-197 Appendix C vectors in
    tests/test_aes.py.

Scope: ECB single-block, CBC with explicit IV, PKCS#7 pad/unpad.
Key sizes 16/24/32 bytes (AES-128/192/256).  No streaming modes —
PDF uses CBC only.
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np

from .. import native

# --- GF(2^8) and the S-box, derived -----------------------------------------


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x11B) & 0xFF if a & 0x100 else a


_EXP = [0] * 256  # exp table over generator 3 (g^i for i in 0..254)
_LOG = [0] * 256
_x = 1
for _i in range(255):
    _EXP[_i] = _x
    _LOG[_x] = _i
    _x ^= _xtime(_x)  # multiply by 0x03


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[(_LOG[a] + _LOG[b]) % 255]


def _rotl8(a: int, n: int) -> int:
    return ((a << n) | (a >> (8 - n))) & 0xFF


SBOX = [0] * 256
for _a in range(256):
    # (255 - log) mod 255: a == 1 has log 0 and is its own inverse —
    # without the mod it would read the unset _EXP[255]
    _inv = 0 if _a == 0 else _EXP[(255 - _LOG[_a]) % 255]
    SBOX[_a] = (
        _inv ^ _rotl8(_inv, 1) ^ _rotl8(_inv, 2)
        ^ _rotl8(_inv, 3) ^ _rotl8(_inv, 4) ^ 0x63
    )
INV_SBOX = [0] * 256
for _a in range(256):
    INV_SBOX[SBOX[_a]] = _a

# encrypt T-tables: Te0[x] = (2s, s, s, 3s) big-endian packed, the
# other three are byte rotations (s = SBOX[x])
_TE0 = [0] * 256
for _a in range(256):
    _s = SBOX[_a]
    _TE0[_a] = (
        (_gmul(_s, 2) << 24) | (_s << 16) | (_s << 8) | _gmul(_s, 3)
    )
_TE1 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _TE0]
_TE2 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _TE1]
_TE3 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in _TE2]

# decrypt byte tables for the vectorized InvMixColumns
_ISBOX_NP = np.array(INV_SBOX, dtype=np.uint8)
_M9 = np.array([_gmul(a, 9) for a in range(256)], dtype=np.uint8)
_M11 = np.array([_gmul(a, 11) for a in range(256)], dtype=np.uint8)
_M13 = np.array([_gmul(a, 13) for a in range(256)], dtype=np.uint8)
_M14 = np.array([_gmul(a, 14) for a in range(256)], dtype=np.uint8)


# --- key schedule (§5.2) -----------------------------------------------------


def _check_key(key: bytes) -> None:
    if len(key) not in (16, 24, 32):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")


def _expand_key(key: bytes) -> list[int]:
    """Round-key WORDS w[0..4*(Nr+1)) as big-endian uint32."""
    _check_key(key)
    nk = len(key) // 4
    nr = nk + 6
    w = [int.from_bytes(key[4 * i:4 * i + 4], "big") for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = ((t << 8) | (t >> 24)) & 0xFFFFFFFF  # RotWord
            t = (
                (SBOX[(t >> 24) & 0xFF] << 24)
                | (SBOX[(t >> 16) & 0xFF] << 16)
                | (SBOX[(t >> 8) & 0xFF] << 8)
                | SBOX[t & 0xFF]
            )
            t ^= rcon << 24
            rcon = _xtime(rcon)
        elif nk == 8 and i % nk == 4:
            t = (
                (SBOX[(t >> 24) & 0xFF] << 24)
                | (SBOX[(t >> 16) & 0xFF] << 16)
                | (SBOX[(t >> 8) & 0xFF] << 8)
                | SBOX[t & 0xFF]
            )
        w.append(w[i - nk] ^ t)
    return w


# --- scalar encrypt (T-tables, word state) ---------------------------------

# final round (no MixColumns): the S-box shifted into each byte lane
_SB3 = [x << 24 for x in SBOX]
_SB2 = [x << 16 for x in SBOX]
_SB1 = [x << 8 for x in SBOX]

# the same tables for the C loop: te0..te3 as one (4, 256) uint32 array,
# and the S-box; module globals, so their addresses stay valid
_TE_NP = np.array([_TE0, _TE1, _TE2, _TE3], dtype=np.uint32)
_SBOX_NP = np.array(SBOX, dtype=np.uint8)
_TE_ADDR, _SBOX_ADDR = _TE_NP.ctypes.data, _SBOX_NP.ctypes.data


def encrypt_block(key: bytes, block: bytes) -> bytes:
    """One 16-byte block, ECB (= one CBC block under a zero IV)."""
    if len(block) != 16:
        raise ValueError("AES block must be 16 bytes")
    return cbc_encrypt(key, bytes(16), block, pad=False)


def _cbc_encrypt_words(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC-encrypt block-aligned `data`: the input is unpacked once into
    32-bit words, the chain is four ints and the output is packed once,
    so a block costs only the table lookups and int XORs of its rounds."""
    w = _expand_key(key)
    nr = len(w) // 4 - 1
    k0, k1, k2, k3 = w[0:4]
    rounds = [tuple(w[4 * r:4 * r + 4]) for r in range(1, nr)]
    f0, f1, f2, f3 = w[4 * nr:4 * nr + 4]
    te0, te1, te2, te3 = _TE0, _TE1, _TE2, _TE3
    sb3, sb2, sb1, sb0 = _SB3, _SB2, _SB1, SBOX
    n = len(data) // 4
    words = struct.unpack(f">{n}I", data)
    out = [0] * n
    c0, c1, c2, c3 = struct.unpack(">4I", iv)
    for i in range(0, n, 4):
        s0 = words[i] ^ c0 ^ k0
        s1 = words[i + 1] ^ c1 ^ k1
        s2 = words[i + 2] ^ c2 ^ k2
        s3 = words[i + 3] ^ c3 ^ k3
        for r0, r1, r2, r3 in rounds:
            s0, s1, s2, s3 = (
                te0[s0 >> 24] ^ te1[(s1 >> 16) & 0xFF]
                ^ te2[(s2 >> 8) & 0xFF] ^ te3[s3 & 0xFF] ^ r0,
                te0[s1 >> 24] ^ te1[(s2 >> 16) & 0xFF]
                ^ te2[(s3 >> 8) & 0xFF] ^ te3[s0 & 0xFF] ^ r1,
                te0[s2 >> 24] ^ te1[(s3 >> 16) & 0xFF]
                ^ te2[(s0 >> 8) & 0xFF] ^ te3[s1 & 0xFF] ^ r2,
                te0[s3 >> 24] ^ te1[(s0 >> 16) & 0xFF]
                ^ te2[(s1 >> 8) & 0xFF] ^ te3[s2 & 0xFF] ^ r3,
            )
        c0 = (sb3[s0 >> 24] | sb2[(s1 >> 16) & 0xFF]
              | sb1[(s2 >> 8) & 0xFF] | sb0[s3 & 0xFF]) ^ f0
        c1 = (sb3[s1 >> 24] | sb2[(s2 >> 16) & 0xFF]
              | sb1[(s3 >> 8) & 0xFF] | sb0[s0 & 0xFF]) ^ f1
        c2 = (sb3[s2 >> 24] | sb2[(s3 >> 16) & 0xFF]
              | sb1[(s0 >> 8) & 0xFF] | sb0[s1 & 0xFF]) ^ f2
        c3 = (sb3[s3 >> 24] | sb2[(s0 >> 16) & 0xFF]
              | sb1[(s1 >> 8) & 0xFF] | sb0[s2 & 0xFF]) ^ f3
        out[i], out[i + 1], out[i + 2], out[i + 3] = c0, c1, c2, c3
    return struct.pack(f">{n}I", *out)


# --- vectorized block decrypt ------------------------------------------------


def _round_keys_np(key: bytes) -> np.ndarray:
    """(Nr+1, 4, 4) uint8 round keys, column-major state layout
    (state[row, col] — FIPS-197 §3.4)."""
    w = _expand_key(key)
    nr = len(w) // 4 - 1
    rk = np.zeros((nr + 1, 4, 4), dtype=np.uint8)
    for r in range(nr + 1):
        for c in range(4):
            word = w[4 * r + c]
            for row in range(4):
                rk[r, row, c] = (word >> (24 - 8 * row)) & 0xFF
    return rk


_INV_SHIFT_COLS = np.array(
    [[(c - r) % 4 for c in range(4)] for r in range(4)]
)
_ROWS4 = np.arange(4)[:, None]


def decrypt_blocks(key: bytes, data: bytes) -> bytes:
    """ECB-decrypt all 16-byte blocks of `data` at once (vectorized)."""
    if len(data) % 16:
        raise ValueError("AES ciphertext length not a multiple of 16")
    n = len(data) // 16
    if n == 0:
        return b""
    rk = _round_keys_np(key)
    nr = rk.shape[0] - 1
    # (n, 4, 4) with state[i, row, col] = byte[4*col + row]
    st = np.frombuffer(data, dtype=np.uint8).reshape(n, 4, 4)
    st = st.transpose(0, 2, 1).copy()
    st ^= rk[nr]
    for r in range(nr - 1, 0, -1):
        st = st[:, _ROWS4, _INV_SHIFT_COLS]      # InvShiftRows
        st = _ISBOX_NP[st]                        # InvSubBytes
        st ^= rk[r]                               # AddRoundKey
        a0, a1, a2, a3 = st[:, 0], st[:, 1], st[:, 2], st[:, 3]
        st = np.stack(
            [
                _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3],
                _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3],
                _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3],
                _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3],
            ],
            axis=1,
        )                                          # InvMixColumns
    st = st[:, _ROWS4, _INV_SHIFT_COLS]
    st = _ISBOX_NP[st]
    st ^= rk[0]
    return st.transpose(0, 2, 1).tobytes()


def decrypt_block(key: bytes, block: bytes) -> bytes:
    return decrypt_blocks(key, block)


# --- CBC + PKCS#7 ------------------------------------------------------------


def cbc_encrypt(key: bytes, iv: bytes, data: bytes,
                pad: bool = True) -> bytes:
    """CBC encrypt; PKCS#7-pads unless pad=False (then the length must
    already be block-aligned — the KDF / key-blob case).  Runs in C
    where the native library loads, else `_cbc_encrypt_words`; every
    length is checked here, before either."""
    if pad:
        p = 16 - len(data) % 16
        data = data + bytes([p]) * p
    elif len(data) % 16:
        raise ValueError("unpadded CBC input must be block-aligned")
    if len(iv) != 16:
        raise ValueError("AES-CBC IV must be 16 bytes")
    _check_key(key)
    lib = native.load()
    if lib is None:
        return _cbc_encrypt_words(key, iv, data)
    out = ctypes.create_string_buffer(len(data))
    lib.aes_cbc_encrypt(
        _TE_ADDR, _SBOX_ADDR, bytes(key), len(key),
        bytes(iv), bytes(data), len(data) // 16, out,
    )
    return out.raw


def cbc_decrypt(key: bytes, iv: bytes, data: bytes,
                unpad: bool = True) -> bytes:
    """CBC decrypt (vectorized: P_i = D(C_i) XOR C_{i-1}); strips and
    VALIDATES PKCS#7 padding unless unpad=False."""
    if unpad and not data:
        raise ValueError("AES-CBC: empty ciphertext cannot carry padding")
    plain = decrypt_blocks(key, data)
    if not plain:
        return b""
    chain = iv + data[:-16]
    out = (
        np.frombuffer(plain, dtype=np.uint8)
        ^ np.frombuffer(chain, dtype=np.uint8)
    ).tobytes()
    if not unpad:
        return out
    p = out[-1]
    if not 1 <= p <= 16 or out[-p:] != bytes([p]) * p:
        raise ValueError("AES-CBC: invalid PKCS#7 padding")
    return out[:-p]
