"""AES backend (functions/aes.py) — FIPS-197 vectors, table
self-checks, and the CBC/PKCS#7 contract."""

import os

import pytest

from mcp_ocr_server_spark.functions import aes

PT = bytes.fromhex("00112233445566778899aabbccddeeff")
K128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
K192 = K128 + bytes.fromhex("1011121314151617")
K256 = K192 + bytes.fromhex("18191a1b1c1d1e1f")


@pytest.mark.parametrize("key, ct_hex", [
    (K128, "69c4e0d86a7b0430d8cdb78070b4c55a"),  # FIPS-197 C.1
    (K192, "dda97ca4864cdfe06eaf70a0ec0d7191"),  # FIPS-197 C.2
    (K256, "8ea2b7ca516745bfeafc49904b496089"),  # FIPS-197 C.3
])
def test_fips197_appendix_c(key, ct_hex):
    ct = aes.encrypt_block(key, PT)
    assert ct.hex() == ct_hex
    assert aes.decrypt_block(key, ct) == PT


def test_sbox_derivation():
    """The S-box is derived, not pasted — pin the spec's §5.1.1 values
    incl. SBOX[1] (the a=1 own-inverse case whose log is 0: a missing
    mod-255 there reads an unset exp-table slot — a real bug found in
    development) and bijectivity."""
    assert aes.SBOX[0x00] == 0x63
    assert aes.SBOX[0x01] == 0x7C
    assert aes.SBOX[0x53] == 0xED
    assert len(set(aes.SBOX)) == 256
    assert all(aes.INV_SBOX[aes.SBOX[a]] == a for a in range(256))


def test_vectorized_decrypt_matches_per_block():
    rng = __import__("random").Random(42)
    key = bytes(rng.randrange(256) for _ in range(16))
    blocks = [
        bytes(rng.randrange(256) for _ in range(16)) for _ in range(7)
    ]
    joined = aes.decrypt_blocks(key, b"".join(blocks))
    singly = b"".join(aes.decrypt_block(key, b) for b in blocks)
    assert joined == singly


@pytest.mark.parametrize("klen", [16, 24, 32])
def test_cbc_roundtrip_arbitrary_lengths(klen):
    rng = __import__("random").Random(klen)
    key = bytes(rng.randrange(256) for _ in range(klen))
    iv = bytes(rng.randrange(256) for _ in range(16))
    for n in (0, 1, 15, 16, 17, 255, 4096):
        data = bytes(rng.randrange(256) for _ in range(n))
        ct = aes.cbc_encrypt(key, iv, data)
        assert len(ct) % 16 == 0 and len(ct) >= n + 1
        assert aes.cbc_decrypt(key, iv, ct) == data


SP800_38A_IV = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
SP800_38A_PT = bytes.fromhex(
    "6bc1bee22e409f96e93d7e117393172aae2d8a571e03ac9c9eb76fac45af8e51"
    "30c81c46a35ce411e5fbc1191a0a52eff69f2445df4f9b17ad2b417be66c3710"
)


@pytest.mark.parametrize("key_hex, ct_hex", [
    ("2b7e151628aed2a6abf7158809cf4f3c",
     "7649abac8119b246cee98e9b12e9197d5086cb9b507219ee95db113a917678b2"
     "73bed6b8e3c1743b7116e69e222295163ff1caa1681fac09120eca307586e1a7"),
    ("603deb1015ca71be2b73aef0857d77811f352c073b6108d72d9810a30914dff4",
     "f58c4c04d6e5f1ba779eabfb5f7bfbd69cfc4e967edb808d679f777bc6702c7d"
     "39f23369a9d9bacfa530e26304231461b2eb05e2c39be9fcda6c19078c6a9d1b"),
], ids=["F.2.1-aes128", "F.2.5-aes256"])
def test_cbc_encrypt_sp800_38a(key_hex, ct_hex):
    """NIST SP 800-38A F.2 CBC-encrypt vectors: a known answer, so a
    bug shared by our encrypt and decrypt cannot pass as a round-trip."""
    key = bytes.fromhex(key_hex)
    ct = aes.cbc_encrypt(key, SP800_38A_IV, SP800_38A_PT, pad=False)
    assert ct.hex() == ct_hex
    assert aes.cbc_decrypt(key, SP800_38A_IV, ct, unpad=False) == SP800_38A_PT


def test_cbc_nopad_mode_roundtrip():
    key, iv = bytes(32), bytes(16)
    data = os.urandom(48)
    ct = aes.cbc_encrypt(key, iv, data, pad=False)
    assert aes.cbc_decrypt(key, iv, ct, unpad=False) == data
    with pytest.raises(ValueError, match="block-aligned"):
        aes.cbc_encrypt(key, iv, b"short", pad=False)


def test_cbc_padding_validation():
    key, iv = bytes(16), bytes(16)
    ct = bytearray(aes.cbc_encrypt(key, iv, b"payload"))
    ct[-1] ^= 0x01  # corrupt the last ciphertext byte → padding breaks
    with pytest.raises(ValueError, match="PKCS#7"):
        aes.cbc_decrypt(key, iv, bytes(ct))
    with pytest.raises(ValueError, match="multiple of 16"):
        aes.decrypt_blocks(key, b"123")
    with pytest.raises(ValueError, match="empty"):
        aes.cbc_decrypt(key, iv, b"")


def test_bad_key_length_refuses():
    with pytest.raises(ValueError, match="16/24/32"):
        aes.encrypt_block(b"123", bytes(16))
