"""The native AES-CBC encrypt loop (native.py) against its Python
reference, and the checks `aes.cbc_encrypt` makes before either runs.

`aes.cbc_encrypt` runs the C loop wherever the native library loads
and `aes._cbc_encrypt_words` otherwise; both must give the same
ciphertext bit for bit.  The known answers they must produce are
`test_aes.py::test_cbc_encrypt_sp800_38a` and
`test_pdf.py::test_hash_2b_known_answers`; the shared build, cache and
fallback rules are tested in `test_hough_native.py`.
"""

from __future__ import annotations

import random
import shutil

import pytest

from mcp_ocr_server_spark import native as native_mod
from mcp_ocr_server_spark.functions import aes

needs_cc = pytest.mark.skipif(shutil.which("cc") is None, reason="no C compiler")

_PYTHON = aes._cbc_encrypt_words  # kept before `native` patches the name


@pytest.fixture
def native(monkeypatch):
    """cbc_encrypt on the C loop only: fail rather than fall back."""
    assert native_mod.load() is not None, "cc is present but the loop did not build"

    def no_fallback(*_a, **_k):
        raise AssertionError("cbc_encrypt fell back to Python")

    monkeypatch.setattr(aes, "_cbc_encrypt_words", no_fallback)
    return aes.cbc_encrypt


def _padded(data: bytes) -> bytes:
    p = 16 - len(data) % 16
    return data + bytes([p]) * p


@needs_cc
def test_native_matches_python_reference(native):
    """Key sizes 16/24/32, a random key and IV per case, every length
    of 0-32 blocks and 40 more up to 300, with `pad` off (aligned
    input) and on (a random 0-15-byte tail)."""
    rng = random.Random(2)
    lengths = list(range(33)) + sorted(rng.sample(range(33, 300), 39)) + [300]
    mismatched = []
    for klen in (16, 24, 32):
        for n in lengths:
            for pad in (False, True):
                key, iv = rng.randbytes(klen), rng.randbytes(16)
                data = rng.randbytes(16 * n + (rng.randrange(16) if pad else 0))
                got = native(key, iv, data, pad=pad)
                want = _PYTHON(key, iv, _padded(data) if pad else data)
                if got != want:
                    mismatched.append((klen, n, pad))
    assert not mismatched


@needs_cc
def test_native_takes_bytes_like_input(native):
    """The C path takes the bytearray and memoryview input the Python
    path takes."""
    key, iv = bytes(range(16)), bytes(range(16, 32))
    data = bytes(range(64))
    want = _PYTHON(key, iv, data)
    assert native(bytearray(key), memoryview(iv), bytearray(data), pad=False) == want


class _NoCall:
    """A stand-in library whose AES entry point must not be reached."""

    def aes_cbc_encrypt(self, *_a):
        raise AssertionError("the C loop ran on input that should be refused")


@pytest.mark.parametrize("path", ["native", "python"])
@pytest.mark.parametrize("key,iv,data,pad,match", [
    (bytes(16), bytes(16), bytes(17), False, "block-aligned"),
    (bytes(16), bytes(16), bytes(1), False, "block-aligned"),
    (bytes(16), bytes(15), bytes(16), False, "IV must be 16 bytes"),
    (bytes(16), bytes(17), b"", True, "IV must be 16 bytes"),
    (bytes(15), bytes(16), bytes(16), False, "16/24/32 bytes, got 15"),
    (bytes(17), bytes(16), bytes(16), False, "16/24/32 bytes, got 17"),
    (bytes(33), bytes(16), b"x", True, "16/24/32 bytes, got 33"),
    (b"", bytes(16), bytes(16), False, "16/24/32 bytes, got 0"),
], ids=["unaligned", "unaligned-1", "iv-15", "iv-17", "key-15", "key-17",
        "key-33", "key-0"])
def test_bad_input_is_refused_before_any_loop(monkeypatch, path, key, iv, data, pad, match):
    """Unaligned unpadded data, a bad IV length and a bad key length
    raise the same ValueError on both paths, before either loop runs
    (a 17-byte key is not truncated to 16)."""
    monkeypatch.setattr(native_mod, "load", (lambda: _NoCall()) if path == "native" else (lambda: None))

    def no_python(*_a, **_k):
        raise AssertionError("the Python loop ran on input that should be refused")

    monkeypatch.setattr(aes, "_cbc_encrypt_words", no_python)
    with pytest.raises(ValueError, match=match):
        aes.cbc_encrypt(key, iv, data, pad=pad)
