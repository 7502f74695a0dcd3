"""Standard security handler decryption for encrypted PDFs (ISO
32000-1 §7.6.2-7.6.4 / ISO 32000-2 §7.6.4, revisions 2-6) — pure
stdlib (hashlib plus a 15-line RC4) + the in-repo AES backend
(functions/aes.py).

Most "encrypted" PDFs in a crawl are OWNER-locked: the user password is
EMPTY (the document opens in any viewer; only print/copy permission
bits are asserted) and the content is encrypted with a key derived
from the padded empty password.  Those documents are fully readable
without any secret, and refusing them throws away perfectly
extractable text.  This module derives the key, verifies the empty
user password against /U, and decrypts per-object stream payloads so
the text/layout/raster extractors run unchanged.  All three handler
generations are live:

  - /V 1-2, /R 2-3: RC4 40-128 bit (Algorithms 2/4/5, the classic).
  - /V 4, /R 4: crypt filters — /CFM /AESV2 (AES-128-CBC, per-object
    key salted with b"sAlT", 16-byte IV prefix, PKCS#7) and /CFM /V2
    (RC4 under the V4 layout).  /EncryptMetadata false folds the
    spec's 0xFFFFFFFF into the Algorithm 2 hash.
  - /V 5, /R 5-6: /CFM /AESV3 (AES-256-CBC, the file key used
    directly for every object).  R6 validates the empty user
    password with the Algorithm 2.B iterated-SHA-2 hash and unwraps
    the file key from /UE; R5 (the deprecated SHA-256-only interim
    revision) is the degenerate one-hash case.

Documented scope (refusals name the feature):
  - /Filter /Standard only; public-key (Adobe.PubSec) handlers refuse.
  - EMPTY user password only.  A real password is a secret this
    engine cannot know; verification failure refuses with "password
    required".
  - classic-xref and 1.5+ XRef-stream layouts; _validated_objects
    finds /Encrypt in either trailer and never decrypts the /XRef
    streams themselves (§7.5.8.2).
  - only STREAM payloads are decrypted: page content, CMaps, image
    XObjects — everything the extractors read.  Top-level literal
    strings (document info) stay encrypted; no extractor reads them.

The writer half (writer_material) derives /O, /U (and for V5: /OE,
/UE, /Perms) and the per-object cipher with the same key schedule;
the corpus writers in sources/synthetic encrypt with it, so corpus
classes and the decryptor are pinned against each other, not against
copied constants.
"""

from __future__ import annotations

import hashlib
import re
import struct

from . import aes

# Algorithm 2's 32-byte padding string (ISO 32000-1 Table _the_ pad;
# public constant reproduced in every PDF implementation)
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_password(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def derive_key(
    o_entry: bytes, p: int, id0: bytes, r: int, n_bytes: int,
    user_pw: bytes = b"", encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from the (padded) user
    password, /O, /P (as a 32-bit signed LE dword), and /ID[0]."""
    h = hashlib.md5()
    h.update(_pad_password(user_pw))
    h.update(o_entry[:32])
    # /P is a 32-bit signed dword; files write it signed or unsigned —
    # low 32 bits little-endian either way
    h.update(struct.pack("<q", p)[:4])
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n_bytes]).digest()
    return key[:n_bytes]


def hash_2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6): the iterated SHA-256/384/512
    password hash.  Start with SHA-256(pw + salt + udata); each round
    AES-128-CBC-encrypts 64 copies of (pw + K + udata) under K's first
    16 bytes (IV = next 16) and picks the next hash by the first 16
    bytes of the ciphertext mod 3 (256 ≡ 1 mod 3, so byte-sum mod 3);
    stop after round 64 once the last ciphertext byte <= round - 32."""
    k = hashlib.sha256(pw + salt + udata).digest()
    algs = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = aes.cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = algs[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int,
              n_bytes: int) -> bytes:
    """Algorithm 3: the /O entry."""
    key = hashlib.md5(_pad_password(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n_bytes]
    out = rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            out = rc4(bytes(b ^ i for b in key), out)
    return out


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (r2) / 5 (r3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    h = hashlib.md5(PAD + id0).digest()
    out = rc4(key, h)
    for i in range(1, 20):
        out = rc4(bytes(b ^ i for b in key), out)
    return out + b"\x00" * 16


def object_key(key: bytes, num: int, gen: int = 0,
               salt: bytes = b"") -> bytes:
    """Algorithm 1: per-object key (md5 of key + 3 LE bytes of the
    object number + 2 LE bytes of the generation; AESV2 additionally
    appends the spec's b"sAlT" constant)."""
    h = hashlib.md5()
    h.update(key)
    h.update(struct.pack("<I", num)[:3])
    h.update(struct.pack("<I", gen)[:2])
    h.update(salt)
    return h.digest()[: min(len(key) + 5, 16)]


class StandardDecryptor:
    """Verified empty-user-password decryptor for one document.

    mode: 'rc4' (V1-2, and V4 /CFM /V2 — per-object RC4 key),
    'aesv2' (V4 — per-object AES-128 key salted with b"sAlT"),
    'aesv3' (V5 — the file key used directly)."""

    def __init__(self, key: bytes, mode: str = "rc4") -> None:
        self.key = key
        self.mode = mode

    def decrypt_stream(self, num: int, payload: bytes) -> bytes:
        if self.mode == "rc4":
            return rc4(object_key(self.key, num), payload)
        if self.mode == "aesv2":
            k = object_key(self.key, num, salt=b"sAlT")
        else:  # aesv3
            k = self.key
        if len(payload) < 32 or len(payload) % 16:
            raise ValueError(
                "encrypted PDF: AES stream payload shorter than"
                " IV + one block (or unaligned)"
            )
        return aes.cbc_decrypt(k, payload[:16], payload[16:])


def _one_string(body: bytes, key: bytes) -> bytes | None:
    """The string value of /key in a dict body — literal or hex."""
    m = re.search(rb"/" + key + rb"\s*(\(|<(?!<))", body)
    if m is None:
        return None
    # reuse the tokenizer/string decoding from the pdf module (late
    # import: pdf.py imports this module for the decrypt hook)
    from .pdf import _string_bytes, _tokens

    for tok in _tokens(body[m.start(1):]):
        return _string_bytes(tok)
    return None


def _int_of(body: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+([-+]?\d+)", body)
    return int(m.group(1)) if m else None


def build_decryptor(enc_body: bytes, id0: bytes) -> StandardDecryptor:
    """Parse an /Encrypt dict body and verify the EMPTY user password.
    Raises ValueError naming the refusal (unsupported handler/version,
    or a real password)."""
    if not re.search(rb"/Filter\s*/Standard\b", enc_body):
        raise ValueError(
            "encrypted PDF: non-Standard security handler unsupported"
        )
    v = _int_of(enc_body, b"V") or 0
    r = _int_of(enc_body, b"R") or 0
    if v == 5 and r in (5, 6):
        return _build_v5(enc_body, r)
    mode = "rc4"
    if v == 4:
        if r != 4:
            raise ValueError(
                f"encrypted PDF: V=4/R={r} unsupported — only R4"
            )
        cfm = re.search(rb"/CFM\s*/(\w+)", enc_body)
        cfm_name = cfm.group(1) if cfm else b""
        if cfm_name == b"AESV2":
            mode = "aesv2"
        elif cfm_name != b"V2":
            raise ValueError(
                f"encrypted PDF: crypt filter /CFM /"
                f"{cfm_name.decode('ascii', 'replace')} unsupported"
                " — only AESV2/V2"
            )
    elif v not in (1, 2) or r not in (2, 3):
        raise ValueError(
            f"encrypted PDF: V={v}/R={r} unsupported —"
            " only V1-2/R2-3 (RC4), V4/R4 (AESV2), V5/R5-6 (AESV3)"
        )
    p = _int_of(enc_body, b"P")
    o_entry = _one_string(enc_body, b"O")
    u_entry = _one_string(enc_body, b"U")
    if p is None or not o_entry or not u_entry:
        raise ValueError("encrypted PDF: /Encrypt dict missing O/U/P")
    length = _int_of(enc_body, b"Length") or 40
    if v == 4 and length <= 32:
        length *= 8  # a /CF-dict /Length is in BYTES; top-level in bits
    n_bytes = max(5, min(16, length // 8))
    enc_meta = not re.search(
        rb"/EncryptMetadata\s+false\b", enc_body
    )
    key = derive_key(
        o_entry, p, id0, r, n_bytes, encrypt_metadata=enc_meta
    )
    expect = compute_u(key, id0, r)
    ok = (expect[:16] == u_entry[:16]) if r >= 3 else (
        expect == u_entry[:32]
    )
    if not ok:
        raise ValueError(
            "encrypted PDF: password required (empty user password"
            " does not verify)"
        )
    return StandardDecryptor(key, mode)


def _build_v5(enc_body: bytes, r: int) -> StandardDecryptor:
    """V5 (AES-256): verify the EMPTY user password against the 48-byte
    /U (hash ‖ validation salt ‖ key salt) and unwrap the file key from
    /UE — Algorithms 2.A/8 of ISO 32000-2.  R6 hashes with Algorithm
    2.B; R5 (the deprecated interim revision) with one SHA-256."""
    cfm = re.search(rb"/CFM\s*/(\w+)", enc_body)
    if cfm is not None and cfm.group(1) != b"AESV3":
        raise ValueError(
            f"encrypted PDF: V=5 crypt filter /CFM /"
            f"{cfm.group(1).decode('ascii', 'replace')} unsupported"
        )
    u_entry = _one_string(enc_body, b"U")
    ue_entry = _one_string(enc_body, b"UE")
    if not u_entry or len(u_entry) < 48 or not ue_entry or \
            len(ue_entry) < 32:
        raise ValueError("encrypted PDF: V5 /Encrypt missing U/UE")
    vsalt, ksalt = u_entry[32:40], u_entry[40:48]

    def _h(pw: bytes, salt: bytes) -> bytes:
        if r == 6:
            return hash_2b(pw, salt)
        return hashlib.sha256(pw + salt).digest()

    if _h(b"", vsalt) != u_entry[:32]:
        raise ValueError(
            "encrypted PDF: password required (empty user password"
            " does not verify)"
        )
    file_key = aes.cbc_decrypt(
        _h(b"", ksalt), b"\x00" * 16, ue_entry[:32], unpad=False
    )
    # /Perms (when present) must round-trip the b"adb" sentinel —
    # a garbage file key would otherwise silently emit noise streams
    perms = _one_string(enc_body, b"Perms")
    if perms and len(perms) >= 16:
        if aes.decrypt_block(file_key, perms[:16])[9:12] != b"adb":
            raise ValueError(
                "encrypted PDF: /Perms does not verify under the"
                " unwrapped file key"
            )
    return StandardDecryptor(file_key, "aesv3")


def trailer_id0(data: bytes) -> bytes:
    """First /ID element from the trailer (hex string), b'' if absent
    — Algorithm 2 hashes whatever is there; an absent ID only breaks
    verification if the writer used one."""
    for tm in re.finditer(rb"trailer(.*?)startxref", data, re.S):
        m = re.search(
            rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>", tm.group(1)
        )
        if m:
            h = m.group(1).decode("ascii")
            if len(h) % 2:
                h += "0"
            return bytes.fromhex(h)
    return b""


def writer_material(
    r: int, length: int, user_pw: bytes, owner_pw: bytes,
    file_id: bytes,
):
    """(/Encrypt dict body, cipher(num, payload) -> bytes) — the key
    schedule shared by the classic-xref writer and the 1.5
    XRef-stream-layout writer (sources/synthetic.encrypt_pdf_bytes and
    make_pdf15_bytes)."""
    if r == 4:
        length = 128
    elif r == 6:
        length = 256
    n_bytes = max(5, min(16, length // 8))
    p = -44  # print allowed, modify/copy denied — a typical owner lock

    if r == 6:
        file_key = hashlib.sha256(b"file-key" + file_id).digest()
        vs_u = hashlib.md5(file_id + b"vU").digest()[:8]
        ks_u = hashlib.md5(file_id + b"kU").digest()[:8]
        vs_o = hashlib.md5(file_id + b"vO").digest()[:8]
        ks_o = hashlib.md5(file_id + b"kO").digest()[:8]
        u_entry = hash_2b(user_pw, vs_u) + vs_u + ks_u
        ue_entry = aes.cbc_encrypt(
            hash_2b(user_pw, ks_u), b"\x00" * 16, file_key, pad=False
        )
        o_entry = hash_2b(owner_pw, vs_o, u_entry) + vs_o + ks_o
        oe_entry = aes.cbc_encrypt(
            hash_2b(owner_pw, ks_o, u_entry), b"\x00" * 16, file_key,
            pad=False,
        )
        perms = aes.encrypt_block(
            file_key,
            struct.pack("<q", p)[:4] + b"\xff" * 4 + b"Tadbmcp!",
        )
        key = file_key
    else:
        o_entry = compute_o(owner_pw, user_pw, r, n_bytes)
        key = derive_key(
            o_entry, p, file_id, r, n_bytes, user_pw=user_pw
        )
        u_entry = compute_u(key, file_id, min(r, 3))

    def _cipher(num: int, payload: bytes) -> bytes:
        if r in (2, 3):
            return rc4(object_key(key, num), payload)
        iv = hashlib.md5(file_id + struct.pack("<I", num)).digest()
        k = key if r == 6 else object_key(key, num, salt=b"sAlT")
        return iv + aes.cbc_encrypt(k, iv, payload)

    if r == 6:
        enc_dict = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256"
            b" /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
            b" /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
            + b" /P " + str(p).encode()
            + b" /O <" + o_entry.hex().encode() + b">"
            + b" /U <" + u_entry.hex().encode() + b">"
            + b" /OE <" + oe_entry.hex().encode() + b">"
            + b" /UE <" + ue_entry.hex().encode() + b">"
            + b" /Perms <" + perms.hex().encode() + b"> >>"
        )
    elif r == 4:
        enc_dict = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128"
            b" /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
            b" /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
            + b" /P " + str(p).encode()
            + b" /O <" + o_entry.hex().encode() + b">"
            + b" /U <" + u_entry.hex().encode() + b"> >>"
        )
    else:
        v = 1 if length == 40 else 2
        enc_dict = (
            b"<< /Filter /Standard /V " + str(v).encode()
            + b" /R " + str(r).encode()
            + b" /Length " + str(length).encode()
            + b" /P " + str(p).encode()
            + b" /O <" + o_entry.hex().encode() + b">"
            + b" /U <" + u_entry.hex().encode() + b"> >>"
        )
    return enc_dict, _cipher
