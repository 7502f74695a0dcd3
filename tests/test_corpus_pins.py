"""Byte pins for the synthetic PDF corpora and every writer option.

The committed goldens, the oracle corpora and the benchmark's pdf
library are all generated by `sources/synthetic.py`, and a change to a
writer's output bytes moves them all.  `CORPUS_VERSION` promises that
any such change is deliberate and bumped; these digests make the
promise a check.  If a pin moves, a writer's output changed: fix the
writer, or bump `CORPUS_VERSION` and regenerate the goldens and the
pins together.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from mcp_ocr_server_spark.sources import synthetic as S

try:
    from mcp_ocr_server_spark.sources.synthetic import encrypt_pdf_bytes
except ImportError:  # trees where the writer sits beside the decryptor
    from mcp_ocr_server_spark.functions.pdfcrypt import encrypt_pdf_bytes

CFG = S.CorpusConfig(n_docs=120)


def _digest(blobs) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(b)
    return h.hexdigest()[:16]


CORPUS_PINS = {
    "pdf": (S.pdf_item, S.N_PDF_DOCS, "1af2846f3745f98d"),
    "scan_pdf": (S.scan_pdf_item, S.N_SCAN_PDFS, "c1156fa8b7b93831"),
    "layout_pdf": (S.layout_pdf_item, S.N_LAYOUT_PDFS, "a229da4e3d522de2"),
    "comp_pdf": (S.comp_pdf_item, S.N_COMP_PDFS, "2041723c80f73f5a"),
}


@pytest.mark.parametrize("corpus", list(CORPUS_PINS))
def test_pdf_corpus_bytes_pinned(corpus):
    item, n, pin = CORPUS_PINS[corpus]
    assert _digest(item(CFG, j)[1] for j in range(n)) == pin


# -- writer options the corpora do not reach ---------------------------------

PAGES = [["Hello (world) \\ back", "aaaaaaab line two"], [], ["third"]]


def _images():
    rng = np.random.default_rng(7)
    return [rng.integers(0, 256, (9, 13), dtype=np.uint8),
            rng.integers(0, 256, (5, 4), dtype=np.uint8)]


SCAN_OPTIONS = {
    "default": ({}, "2064d8e11ce2209c"),
    "raw": ({"flate": False}, "c1a162f4971d9fb9"),
    "gray1": ({"bits": 1}, "2c20d16b5bfbc484"),
    "rgb": ({"color": "rgb"}, "224ea5cea5cd17ae"),
    "dct": ({"dct": True}, "46eea9415c922b5f"),
    "indexed": ({"variant": "indexed"}, "68559ae9c15eeef8"),
    "smask": ({"variant": "smask"}, "b29a31c3555be17e"),
    "invert": ({"variant": "invert"}, "f044854bbd7ba04e"),
    "rl": ({"variant": "rl"}, "0c13df46ae50e44e"),
    "pred": ({"variant": "pred"}, "f67ca092b6659d02"),
}


@pytest.mark.parametrize("option", list(SCAN_OPTIONS))
def test_scanned_writer_options_pinned(option):
    kwargs, pin = SCAN_OPTIONS[option]
    assert _digest([S.make_scanned_pdf_bytes(_images(), **kwargs)]) == pin


TEXT_WRITERS = {
    "stored": (lambda: S.make_pdf_bytes(PAGES), "805477924982eafe"),
    "flate": (lambda: S.make_pdf_bytes(PAGES, True), "3caf75be103627ef"),
    "rl": (lambda: S.make_pdf_bytes(PAGES, stream_filter="rl"),
           "6130f29968d2bf15"),
    "type0": (lambda: S.make_type0_pdf_bytes(PAGES), "de0369ccaed3819d"),
    "differences": (lambda: S.make_differences_pdf_bytes(PAGES),
                    "3dcdd00c183a13ad"),
    "positioned": (lambda: S.make_positioned_pdf_bytes(
        [[(72.0, 700.5, "b (run)"), (72, 720, "a")], []]),
        "d23ffd4b947ec618"),
}


@pytest.mark.parametrize("writer", list(TEXT_WRITERS))
def test_text_writers_pinned(writer):
    make, pin = TEXT_WRITERS[writer]
    assert _digest([make()]) == pin


PDF15_PINS = {
    None: "0be3e6ac2730282e",
    2: "8b08a3bd9c1c668c",
    3: "1e91ed0da749ee44",
    4: "e5e1ae4ff0bd5926",
}


@pytest.mark.parametrize("r", list(PDF15_PINS))
def test_pdf15_writer_pinned(r):
    assert _digest([S.make_pdf15_bytes(PAGES, encrypt_r=r)]) == PDF15_PINS[r]


ENCRYPT_PINS = {
    2: "c498105971da5f8a",
    3: "5c13cc45dc9805c2",
    4: "477ca2c090dc2890",
    6: "3cf5ed8484c701f2",
}


@pytest.mark.parametrize("r", list(ENCRYPT_PINS))
def test_encrypt_with_user_password_pinned(r):
    plain = S.make_scanned_pdf_bytes(_images()[:1], variant="smask")
    enc = encrypt_pdf_bytes(plain, user_pw=b"user", owner_pw=b"own", r=r,
                            length=40 if r == 2 else 128)
    assert _digest([enc]) == ENCRYPT_PINS[r]


def test_composite_elements_pinned():
    """The element kinds the composite corpus does not draw."""
    rng = np.random.default_rng(11)
    mask = rng.random((6, 10)) < 0.5
    data = S.make_composite_pdf_bytes([
        [("stencil", mask, 10, 20, False), ("stencil", mask, 30.5, 20, True),
         ("extg", b"<< /Type /ExtGState /ca 0.5 >>"),
         ("shstitch", 0, 0, 100.25, 0),
         ("shsampled", 0, 0, 0, 50, [0, 128, 255])],
        [("text", "two (pages)", 72, 700, 11.5)],
    ])
    assert _digest([data]) == "669aaed4785671c2"


def test_encrypt_keeps_object_numbers_with_holes():
    """Objects 5 and 6 are absent: their xref rows read offset 0 and the
    /Encrypt dict takes the number after the highest object."""
    plain = S.make_pdf_bytes([["x"]]).replace(b"\n5 0 obj", b"\n7 0 obj")
    enc = encrypt_pdf_bytes(plain, r=3, length=128)
    assert b"/Size 9 /Root 1 0 R /Encrypt 8 0 R" in enc
    assert enc.count(b"0000000000 00000 n ") == 2
    assert _digest([enc]) == "822fd0cb36b7fa85"
