"""REAL PDF text extraction (functions/pdf.py): round-trips against a
deterministic in-repo PDF writer — uncompressed and FlateDecode,
escapes, octal, hex strings, TJ kerning arrays, multi-page tree order,
and per-row error isolation through the Spark stage."""

import re
import zlib

import pytest

from mcp_ocr_server_spark.functions.pdf import extract_pdf_text, pdf_text
from mcp_ocr_server_spark.sources.synthetic import (
    encrypt_pdf_bytes, make_pdf_bytes,
)


PAGES = [
    ["The quick brown fox", "jumps over (the) lazy dog\\path"],
    ["second page line one", "and line two"],
]


def test_roundtrip_uncompressed():
    assert extract_pdf_text(make_pdf_bytes(PAGES)) == [
        "\n".join(p) for p in PAGES
    ]


def test_roundtrip_flate():
    """zlib IS the FlateDecode codec: compressed streams decode for
    real, byte-identical text to the uncompressed variant."""
    assert extract_pdf_text(make_pdf_bytes(PAGES, compress=True)) == [
        "\n".join(p) for p in PAGES
    ]


def test_octal_hex_and_tj_array():
    """Hand-written operator stream: octal escapes, hex strings, and a
    TJ array whose large negative kern renders as a word gap."""
    content = (
        b"BT /F1 12 Tf 72 720 Td (A\\101\\102) Tj "
        b"0 -14 Td <48656C6C6F> Tj "
        b"0 -14 Td [(wor) -80 (d) -300 (gap)] TJ ET"
    )
    body = make_pdf_bytes([["x"]])
    start = body.index(b"stream\n") + 7
    end = body.index(b"\nendstream")
    patched = body.replace(body[start:end], content, 1)
    # /Length is now wrong but the extractor scans to endstream
    assert extract_pdf_text(patched) == ["AAB\nHello\nword gap"]


def test_non_pdf_and_encrypted_raise():
    with pytest.raises(ValueError, match="not a PDF"):
        extract_pdf_text(b"plain text, no header")
    enc = make_pdf_bytes(PAGES).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R"
    )
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(enc)


def test_page_tree_order_not_object_order():
    """Pages come back in /Kids order even when object numbers would
    sort differently."""
    pdf = make_pdf_bytes(PAGES)
    kids_fwd = b"/Kids [4 0 R 6 0 R]"
    kids_rev = b"/Kids [6 0 R 4 0 R]"
    assert kids_fwd in pdf
    rev = pdf.replace(kids_fwd, kids_rev)
    assert extract_pdf_text(rev) == [
        "\n".join(PAGES[1]), "\n".join(PAGES[0])
    ]


def test_spark_stage_error_isolation(spark):
    rows = [
        ("doc-ok", bytearray(make_pdf_bytes(PAGES, compress=True))),
        ("doc-bad", bytearray(b"not a pdf at all")),
    ]
    df = spark.createDataFrame(rows, "media_ref string, bytes binary")
    got = {r["media_ref"]: r for r in pdf_text(df).collect()}
    assert got["doc-ok"]["error"] is None
    assert got["doc-ok"]["n_pages"] == 2
    assert got["doc-ok"]["text"] == "\f".join("\n".join(p) for p in PAGES)
    assert got["doc-bad"]["error"] is not None
    assert got["doc-bad"]["text"] is None


def _patch_content(content: bytes) -> bytes:
    """Writer page with its content stream replaced by raw operators."""
    body = make_pdf_bytes([["x"]])
    start = body.index(b"stream\n") + 7
    end = body.index(b"\nendstream")
    return body.replace(body[start:end], content, 1)


def test_nested_parens_stay_one_string():
    """PDF literal strings may contain BALANCED unescaped parens — the
    scanner must depth-count, not regex-split (review finding)."""
    out = extract_pdf_text(
        _patch_content(b"BT /F1 12 Tf (see (figure 2) here) Tj ET")
    )
    assert out == ["see (figure 2) here"]


def test_tm_positioning_breaks_lines():
    """One-Tm-per-line emission (common generator style) must produce
    separate lines, not fused text (review finding)."""
    out = extract_pdf_text(_patch_content(
        b"BT /F1 12 Tf 1 0 0 1 72 720 Tm (line1) Tj"
        b" 1 0 0 1 72 706 Tm (line2) Tj ET"
    ))
    assert out == ["line1\nline2"]


def test_backslash_before_non_octal_digit():
    """\\8 and \\9 are NOT octal escapes: the backslash drops, the
    digit stays (spec rule; previously crashed int(...,8))."""
    assert extract_pdf_text(
        _patch_content(b"BT (x\\8y\\9z\\101) Tj ET")
    ) == ["x8y9zA"]


def test_encrypt_mention_in_text_is_not_encryption():
    """Only a trailer /Encrypt entry means encryption; page text that
    MENTIONS /Encrypt must still extract (review finding)."""
    out = extract_pdf_text(
        _patch_content(b"BT (the /Encrypt entry semantics) Tj ET")
    )
    assert out == ["the /Encrypt entry semantics"]


def test_unsupported_filter_errors_not_garbage():
    """Filters outside the decodable set must raise (doc -> error
    row), never feed raw compressed bytes to the interpreter as
    'text' (review finding).  JPX/JBIG2/CCITT/Crypt are the refusal
    set now that Flate/LZW/A85/AHx/RL chains decode for real."""
    pdf = make_pdf_bytes(PAGES, compress=True)
    for name in (b"/JPXDecode", b"/JBIG2Decode", b"/CCITTFaxDecode",
                 b"/Crypt"):
        bad = pdf.replace(b"/Filter /FlateDecode", b"/Filter " + name)
        with pytest.raises(ValueError, match="unsupported stream filter"):
            extract_pdf_text(bad)


def _reader_filters():
    from mcp_ocr_server_spark.functions.pdf import (
        _apply_filter_list, _parse_decode_parms, _parse_filters)

    return _apply_filter_list, _parse_decode_parms, _parse_filters


@pytest.mark.parametrize("mode, kinds", [
    ("lzw", [b"/LZWDecode"]),
    ("a85flate", [b"/ASCII85Decode", b"/FlateDecode"]),
    ("rl", [b"/RunLengthDecode"]),
])
def test_filtered_content_streams_roundtrip(mode, kinds):
    """The writer's alternate filter pipelines (LZW, the A85+Flate
    chain, RunLength) extract the same text as the Flate twin."""

    pdf = make_pdf_bytes(PAGES, stream_filter=mode)
    for k in kinds:
        assert k in pdf
    assert extract_pdf_text(pdf) == ["\n".join(p) for p in PAGES]


def test_filter_abbreviations_and_ahx():
    """/Fl /LZW /A85 /AHx /RL short names decode like the long forms;
    ASCIIHex with whitespace and an odd final digit pads per spec."""
    _apply, _parms, _parse = _reader_filters()
    body = b"<< /Filter [/AHx /Fl] >>"
    names = _parse(body)
    assert names == [b"/ASCIIHexDecode", b"/FlateDecode"]
    raw = zlib.compress(b"payload bytes")
    armored = raw.hex().encode()
    armored = armored[:8] + b"\n  " + armored[8:] + b">"
    assert _apply(armored, names, [None, None]) == b"payload bytes"
    # odd digit count pads a trailing zero: "4" -> 0x40
    assert _apply(b"4>", [b"/ASCIIHexDecode"], [None]) == b"\x40"


def test_rl_decode_runs_literals_and_truncation():
    from mcp_ocr_server_spark.functions.pdf import _rl_decode
    from mcp_ocr_server_spark.sources.synthetic import _rl_encode

    for blob in (b"", b"a", b"ab" * 40, b"x" * 300,
                 bytes(range(256)) * 3, b"aaabccccdd" * 17):
        assert _rl_decode(_rl_encode(blob)) == blob
    with pytest.raises(ValueError, match="truncated"):
        _rl_decode(b"\x05ab")  # literal run promises 6 bytes
    with pytest.raises(ValueError, match="truncated"):
        _rl_decode(b"\xfe")  # repeat run with no byte


def test_png_predictor_undo_all_tags():
    """PNG predictors 10-15 (per-row tags 0-4) reconstruct exactly:
    encode with png.py's own row filters?  No — hand-apply each tag
    forward here, then assert the reader undoes it."""
    import numpy as np

    from mcp_ocr_server_spark.functions.pdf import _undo_predictor_bytes

    rng = np.random.default_rng(7)
    rows, cols, colors = 6, 11, 3
    raw = rng.integers(0, 256, (rows, cols * colors), dtype=np.uint8)
    bpp = colors
    enc = bytearray()
    prior = np.zeros(cols * colors, dtype=np.uint8)
    for r in range(rows):
        tag = r % 5
        row = raw[r]
        left = np.concatenate([np.zeros(bpp, np.uint8), row[:-bpp]])
        pl = np.concatenate([np.zeros(bpp, np.uint8), prior[:-bpp]])
        if tag == 0:
            f = row
        elif tag == 1:
            f = row - left
        elif tag == 2:
            f = row - prior
        elif tag == 3:
            f = row - ((left.astype(int) + prior.astype(int)) // 2).astype(
                np.uint8)
        else:
            p = left.astype(int) + prior.astype(int) - pl.astype(int)
            pa = np.abs(p - left.astype(int))
            pb = np.abs(p - prior.astype(int))
            pc = np.abs(p - pl.astype(int))
            pred = np.where(
                (pa <= pb) & (pa <= pc), left,
                np.where(pb <= pc, prior, pl))
            f = row - pred.astype(np.uint8)
        enc.append(tag)
        enc += f.astype(np.uint8).tobytes()
        prior = row
    parms = (b"/Predictor 12 /Colors 3 /BitsPerComponent 8 /Columns "
             + str(cols).encode())
    assert _undo_predictor_bytes(bytes(enc), parms) == raw.tobytes()


def test_tiff_predictor2_and_refusals():
    from mcp_ocr_server_spark.functions.pdf import _undo_predictor_bytes

    # TIFF horizontal differencing, 2 colors x 4 columns
    raw = bytes([10, 200, 13, 210, 16, 220, 19, 230])
    diff = bytes([10, 200, 3, 10, 3, 10, 3, 10])
    parms = b"/Predictor 2 /Colors 2 /Columns 4"
    assert _undo_predictor_bytes(diff, parms) == raw
    with pytest.raises(ValueError, match="8-bit"):
        _undo_predictor_bytes(diff, parms + b" /BitsPerComponent 4")
    with pytest.raises(ValueError, match="unsupported"):
        _undo_predictor_bytes(b"\x00" * 4,
                              b"/Predictor 7 /Columns 4")
    with pytest.raises(ValueError, match="whole row"):
        _undo_predictor_bytes(b"\x00" * 5,
                              b"/Predictor 12 /Columns 3")


def test_decode_parms_array_alignment():
    """An array /DecodeParms aligns per filter position with null
    holes; a bare dict applies to the first filter."""
    _apply, _parms, _parse = _reader_filters()
    body = (b"<< /Filter [/ASCII85Decode /FlateDecode] "
            b"/DecodeParms [null << /Predictor 1 >>] >>")
    parms = _parms(body, 2)
    assert parms[0] is None and b"Predictor" in parms[1]
    body2 = b"<< /Filter /FlateDecode /DP << /Predictor 1 >> >>"
    assert _parms(body2, 1)[0] is not None
    assert _parms(b"<< /Filter /FlateDecode >>", 1) == [None]


def test_inherited_resources_from_pages_node():
    """/Resources is inheritable (§7.7.3.4): a page without its own
    dict must find fonts and XObjects on the /Pages ancestor — the
    shared-resource shape many generators emit."""
    import numpy as np

    from mcp_ocr_server_spark.functions.pdf import (
        extract_pdf_page_rasters)
    from mcp_ocr_server_spark.imaging.font import render_text
    from mcp_ocr_server_spark.sources.synthetic import (
        make_scanned_pdf_bytes, make_type0_pdf_bytes)

    img = render_text("INHERIT", scale=2)
    data = make_scanned_pdf_bytes([img])
    rm = re.search(rb"/Resources << /XObject << /Im0 \d+ 0 R >> >> ",
                   data)
    assert rm is not None
    res = rm.group(0)
    hoisted = data.replace(res, b"").replace(
        b"<< /Type /Pages ", b"<< /Type /Pages " + res, 1)
    assert np.array_equal(extract_pdf_page_rasters(hoisted)[0], img)
    # fonts inherit through the same climb: hoist the Type0 font dict
    t0 = make_type0_pdf_bytes([["shared font"]])
    rm = re.search(rb"/Resources << /Font << /F1 3 0 R >> >> ", t0)
    assert rm is not None
    hoist = t0.replace(rm.group(0), b"").replace(
        b"<< /Type /Pages ", b"<< /Type /Pages " + rm.group(0), 1)
    assert extract_pdf_text(hoist) == ["shared font"]


def test_incremental_update_takes_latest_object():
    """An appended incremental update (same object number, later
    offset, its own xref + /Prev trailer) must win: the sequential
    scan's last-overwrites-first is exactly §7.5.6 update
    semantics."""
    base = make_pdf_bytes([["original words"]])
    assert extract_pdf_text(base) == ["original words"]
    new_content = b"BT /F1 12 Tf 72 720 Td (updated words) Tj ET"
    # the content stream of page 1 is object 5 in make_pdf_bytes' skeleton
    obj_at = len(base)
    update = (
        b"5 0 obj\n<< /Length " + str(len(new_content)).encode()
        + b" >>\nstream\n" + new_content + b"\nendstream\nendobj\n"
    )
    xref_at = obj_at + len(update)
    prev = base.rfind(b"startxref")
    prev_off = int(base[prev:].split()[1])
    data = (
        base + update
        + b"xref\n5 1\n" + f"{obj_at:010d} 00000 n \n".encode()
        + b"trailer\n<< /Size 6 /Root 1 0 R /Prev "
        + str(prev_off).encode() + b" >>\nstartxref\n"
        + str(xref_at).encode() + b"\n%%EOF\n"
    )
    assert extract_pdf_text(data) == ["updated words"]


def test_incremental_update_new_catalog_takes_last_trailer_root():
    """An update that appends a new catalog and points the LAST trailer's
    /Root at it replaces the page tree; the first /Root in the file
    (the original trailer's) must not win."""
    from mcp_ocr_server_spark.functions.pdf import extract_pdf_info

    base = make_pdf_bytes([["one"], ["two"]])
    assert extract_pdf_text(base) == ["one", "two"]
    at9 = len(base)
    obj9 = b"9 0 obj\n<< /Type /Catalog /Pages 10 0 R >>\nendobj\n"
    at10 = at9 + len(obj9)
    obj10 = b"10 0 obj\n<< /Type /Pages /Kids [6 0 R] /Count 1 >>\nendobj\n"
    xref_at = at10 + len(obj10)
    prev = base.rfind(b"startxref")
    prev_off = int(base[prev:].split()[1])
    data = (
        base + obj9 + obj10
        + b"xref\n9 2\n" + f"{at9:010d} 00000 n \n{at10:010d} 00000 n \n".encode()
        + b"trailer\n<< /Size 11 /Root 9 0 R /Prev "
        + str(prev_off).encode() + b" >>\nstartxref\n"
        + str(xref_at).encode() + b"\n%%EOF\n"
    )
    assert extract_pdf_text(data) == ["two"]
    assert extract_pdf_info(data)["n_pages"] == 1


def test_filter_corpus_classes_extract_clean_text():
    """The pdf corpus's lzw and a85 classes (real /LZWDecode streams
    and the [/A85 /Fl] chain) extract ascii prose — they are TEXT
    classes now, not error rows."""
    from mcp_ocr_server_spark.queries import FLAGSHIP_CORPUS
    from mcp_ocr_server_spark.sources.synthetic import (
        N_PDF_DOCS, pdf_item)

    seen = {"lzw": 0, "a85": 0}
    for j in range(N_PDF_DOCS):
        ref, data, kind = pdf_item(FLAGSHIP_CORPUS, j)
        if kind not in seen:
            continue
        seen[kind] += 1
        marker = (b"/Filter /LZWDecode" if kind == "lzw"
                  else b"/Filter [/ASCII85Decode /FlateDecode]")
        assert marker in data
        joined = "\n".join(extract_pdf_text(data))
        assert joined and all(c.isascii() for c in joined)
    assert seen["lzw"] >= 2 and seen["a85"] >= 2


def test_differences_encoding_decodes_high_codes():
    """/Encoding /Differences (§9.6.5): strings written as high codes
    decode through AGL glyph names; codes the table never remaps keep
    the latin-1 fallback; unknown glyph names surface as U+FFFD."""
    from mcp_ocr_server_spark.sources.synthetic import (
        make_differences_pdf_bytes)

    pages = [["hello world, 42!", "Mixed CASE & (parens)"],
             ["page two: a-z"]]
    pdf = make_differences_pdf_bytes(pages)
    assert b"hello" not in pdf  # provably not latin-1 readable
    assert extract_pdf_text(pdf) == ["\n".join(p) for p in pages]
    # an unknown glyph name decodes to U+FFFD, not a silent drop
    bad = pdf.replace(b"/h ", b"/notaglyph ", 1)
    out = extract_pdf_text(bad)
    assert "�ello" in out[0]


def test_differences_corpus_class_extracts_clean_text():
    from mcp_ocr_server_spark.queries import FLAGSHIP_CORPUS
    from mcp_ocr_server_spark.sources.synthetic import (
        N_PDF_DOCS, pdf_item)

    seen = 0
    for j in range(N_PDF_DOCS):
        ref, data, kind = pdf_item(FLAGSHIP_CORPUS, j)
        if kind != "diff":
            continue
        seen += 1
        assert b"/Differences" in data
        joined = "\n".join(extract_pdf_text(data))
        assert joined and all(c.isascii() for c in joined)
    assert seen >= 2


def test_filter_chain_exception_contract_fuzz():
    """Property: ARBITRARY bytes through every decodable filter (and
    the chained forms) either decode to bytes or raise ValueError —
    never zlib.error, binascii.Error, struct.error, IndexError (the
    exception-contract leak class)."""
    from hypothesis import given, settings, strategies as st

    from mcp_ocr_server_spark.functions.pdf import _apply_filter_list

    chains = [
        [b"/FlateDecode"], [b"/LZWDecode"], [b"/ASCII85Decode"],
        [b"/ASCIIHexDecode"], [b"/RunLengthDecode"],
        [b"/ASCII85Decode", b"/FlateDecode"],
        [b"/ASCIIHexDecode", b"/LZWDecode"],
    ]
    parms = (b"/Predictor 12 /Colors 1 /BitsPerComponent 8"
             b" /Columns 5")

    @settings(max_examples=150, deadline=None)
    @given(st.binary(min_size=0, max_size=200),
           st.sampled_from(range(len(chains))),
           st.booleans())
    def run(data, ci, with_pred):
        chain = chains[ci]
        ps: list = [None] * len(chain)
        if with_pred and chain[-1] in (b"/FlateDecode", b"/LZWDecode"):
            ps[-1] = parms
        try:
            out = _apply_filter_list(data, chain, ps)
        except ValueError:
            return
        assert isinstance(out, bytes)

    run()


def test_image_xobject_sample_space_refusals():
    """The §8.9 feature error paths name their defect: dangling
    /SMask, mask-geometry mismatch, short /Indexed lookup, /Decode
    length mismatch, /Decode on /Indexed."""
    import zlib as _z

    import numpy as np

    from mcp_ocr_server_spark.functions.pdf import (
        _decode_image_xobject, _Obj)

    def img_obj(head: bytes, samples: bytes) -> _Obj:
        return _Obj(head + b" /Filter /FlateDecode", _z.compress(samples))

    gray = (b"<< /Subtype /Image /Width 4 /Height 2"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8")
    with pytest.raises(ValueError, match="dangling /SMask"):
        _decode_image_xobject(
            img_obj(gray + b" /SMask 99 0 R >>", bytes(8)), {})
    with pytest.raises(ValueError, match="needs the object table"):
        _decode_image_xobject(
            img_obj(gray + b" /SMask 99 0 R >>", bytes(8)), None)
    mask = img_obj(
        b"<< /Subtype /Image /Width 3 /Height 3"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8 >>", bytes(9))
    with pytest.raises(ValueError, match="geometry"):
        _decode_image_xobject(
            img_obj(gray + b" /SMask 7 0 R >>", bytes(8)), {7: mask})
    with pytest.raises(ValueError, match="lookup too short"):
        _decode_image_xobject(img_obj(
            b"<< /Subtype /Image /Width 4 /Height 2"
            b" /ColorSpace [/Indexed /DeviceRGB 15 <00ff00>]"
            b" /BitsPerComponent 4 >>", bytes(4)), {})
    with pytest.raises(ValueError, match="/Decode length"):
        _decode_image_xobject(
            img_obj(gray + b" /Decode [0 1 0] >>", bytes(8)), {})
    with pytest.raises(ValueError, match="/Decode on /Indexed"):
        _decode_image_xobject(img_obj(
            b"<< /Subtype /Image /Width 2 /Height 1"
            b" /ColorSpace [/Indexed /DeviceGray 1 <00ff>]"
            b" /Decode [1 0] /BitsPerComponent 1 >>", bytes(1)), {})
    # sub-byte gray decodes with the spec's range scaling: 2-bit 3 -> 255
    two_bit = _decode_image_xobject(img_obj(
        b"<< /Subtype /Image /Width 4 /Height 1"
        b" /ColorSpace /DeviceGray /BitsPerComponent 2 >>",
        bytes([0b00011011])), {})
    assert two_bit.tolist() == [[0, 85, 170, 255]]
    assert np.array_equal(two_bit, two_bit)  # ndarray contract


def test_pdf_info_metadata():
    """/Info extraction (§14.3.3): latin-1 and BOM-led UTF-16BE text
    strings, §7.9.4 date normalization with omitted-field defaults,
    absence-is-data, incremental-update /Info precedence, and the
    error-row contract."""
    from mcp_ocr_server_spark.functions.pdf import (
        extract_pdf_info, pdf_info_rows)

    pdf = make_pdf_bytes([["body"], ["p2"]], info=dict(
        title="Ünïcode Tïtle", author="A. Writer",
        producer="gen", created="D:20240301120000"))
    m = extract_pdf_info(pdf)
    assert m["title"] == "Ünïcode Tïtle" and m["author"] == "A. Writer"
    assert m["created"] == "2024-03-01T12:00:00"
    assert m["n_pages"] == 2 and m["subject"] is None
    # UTF-16BE hex-string Title decodes identically
    u16 = make_pdf_bytes([["x"]], info=dict(title="Ünïcode Tïtle"),
                         info_utf16=True)
    assert b"\xdcn\xefcode" not in u16  # not stored as latin-1
    assert extract_pdf_info(u16)["title"] == "Ünïcode Tïtle"
    # partial date: omitted fields default per §7.9.4
    part = make_pdf_bytes([["x"]], info=dict(created="D:2023"))
    assert extract_pdf_info(part)["created"] == "2023-01-01T00:00:00"
    # no /Info at all: nulls, never an error
    assert extract_pdf_info(make_pdf_bytes([["x"]]))["title"] is None
    # error isolation through the row function
    row = pdf_info_rows("r", b"not a pdf")[0]
    assert row["error"] is not None and row["n_pages"] is None


def test_pdf_info_from_trailer_not_content():
    """/Info resolves through the trailer dict only: a page whose text
    shows "/Info 6 0 R" must not pull in object 6 as the document's
    metadata once the trailer carries no /Info."""
    from mcp_ocr_server_spark.functions.pdf import extract_pdf_info

    # objects: 1 catalog, 2 pages, 3 font, 4 page, 5 content, 6 /Info
    pdf = make_pdf_bytes([["see /Info 6 0 R"]], info=dict(title="Smuggled"))
    assert extract_pdf_info(pdf)["title"] == "Smuggled"
    head, tail = pdf.rsplit(b" /Info 6 0 R", 1)
    assert b"trailer" in head and b"startxref" in tail
    stripped = head + tail
    assert b"/Info 6 0 R" in stripped  # still in the content stream
    assert extract_pdf_info(stripped)["title"] is None


def test_pdf_info_xmp_fallback():
    """XMP /Metadata fills fields the /Info dict lacks (per-field,
    /Info winning where both exist), with XML entities unescaped and
    the xpacket date normalized."""
    from mcp_ocr_server_spark.functions.pdf import extract_pdf_info

    xonly = make_pdf_bytes([["b"]], xmp=dict(
        title="XMP & Títle", author="Creator X", subject="Sub",
        producer="GenX", created="2023-07-04T08:30:00"))
    m = extract_pdf_info(xonly)
    assert m["title"] == "XMP & Títle" and m["author"] == "Creator X"
    assert m["created"] == "2023-07-04T08:30:00"
    both = make_pdf_bytes([["b"]], info=dict(title="InfoTitle"),
                          xmp=dict(title="XmpTitle", author="XmpA"))
    got = extract_pdf_info(both)
    assert got["title"] == "InfoTitle"    # /Info wins per field
    assert got["author"] == "XmpA"        # XMP fills the gap


def test_lzw_mislabel_still_errors():
    """zlib bytes labeled /LZWDecode must raise (invalid code stream),
    not silently decode to garbage — the corpus's historical lzw
    error-class contract, now enforced by the decoder itself."""
    pdf = make_pdf_bytes(PAGES, compress=True)
    mislabeled = pdf.replace(b"/Filter /FlateDecode",
                             b"/Filter /LZWDecode")
    with pytest.raises(ValueError):
        extract_pdf_text(mislabeled)


def test_roundtrip_property():
    """Fuzz the scanner/decoder: arbitrary latin-1 printable text —
    including parens, backslashes, digits after backslashes — survives
    writer -> extractor byte-exactly, compressed and not."""
    from hypothesis import given, settings, strategies as st

    line = st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=255,
            exclude_characters="\x7f\x85\xa0",
        ),
        min_size=1, max_size=40,
    ).map(lambda s: s.strip() or "x")

    @settings(max_examples=60, deadline=None)
    @given(
        pages=st.lists(
            st.lists(line, min_size=1, max_size=4), min_size=1, max_size=3
        ),
        compress=st.booleans(),
    )
    def run(pages, compress):
        assert extract_pdf_text(make_pdf_bytes(pages, compress)) == [
            "\n".join(p) for p in pages
        ]

    run()


def test_payload_containing_endstream_bytes():
    """A Flate payload that happens to CONTAIN the byte sequence
    'endstream' (or 'endobj') must parse via the dict's /Length slice,
    not truncate at the first marker (ADVICE finding).  Content is
    chosen so its zlib stream embeds both markers literally."""
    content = (
        b"BT /F1 12 Tf 72 720 Td (endstream endobj inline) Tj ET"
        b"\n% endstream endobj padding to defeat marker scans\n"
    )
    comp = zlib.compress(content, 0)  # stored blocks: markers verbatim
    assert b"endstream" in comp and b"endobj" in comp
    body = make_pdf_bytes([["x"]], compress=True)
    start = body.index(b"stream\n") + 7
    end = body.index(b"\nendstream")
    old_len = f"/Length {end - start}".encode()
    assert old_len in body
    patched = body.replace(body[start:end], comp, 1).replace(
        old_len, f"/Length {len(comp)}".encode(), 1
    )
    assert extract_pdf_text(patched) == ["endstream endobj inline"]


def test_indirect_length_falls_back_to_marker_scan():
    """'/Length N 0 R' (indirect) cannot be sliced directly — the
    scanner must fall back to the endstream marker, not treat the
    object NUMBER as a byte count."""
    pdf = make_pdf_bytes(PAGES)
    assert b"/Length " in pdf
    patched = re.sub(rb"/Length \d+", b"/Length 99 0 R", pdf)
    assert extract_pdf_text(patched) == ["\n".join(p) for p in PAGES]


def test_pdf15_objstm_xref_stream_extracts():
    """PDF 1.5+ layout (the post-2005 default): page/catalog objects
    inside a Flate /ObjStm, cross-reference as a binary /XRef stream,
    NO 'trailer' keyword.  r4 refused these; now they parse
    (VERDICT r4 next #5)."""
    from mcp_ocr_server_spark.sources.synthetic import make_pdf15_bytes

    pdf = make_pdf15_bytes(PAGES)
    assert b"trailer" not in pdf and b"/ObjStm" in pdf
    assert extract_pdf_text(pdf) == ["\n".join(p) for p in PAGES]


def test_pdf15_encrypted_and_corrupt_objstm_refused():
    """The refusal contract survives the 1.5 support: /Encrypt in the
    XRef stream's dict (the trailer-less trailer) refuses BEFORE any
    ObjStm decompression; structurally-corrupt ObjStm headers refuse
    loudly rather than emitting garbage; a predictor-free /DecodeParms
    dict is now a no-op (the filter chain handles parms for real);
    a file with neither trailer nor /XRef stream stays unparseable."""
    from mcp_ocr_server_spark.sources.synthetic import make_pdf15_bytes

    pdf = make_pdf15_bytes(PAGES)
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(pdf.replace(
            b"/Type /XRef /Size", b"/Type /XRef /Encrypt 9 0 R /Size"))
    with pytest.raises(ValueError, match="/N or /First"):
        extract_pdf_text(pdf.replace(b"/Type /ObjStm /N",
                                     b"/Type /ObjStm /Z"))
    assert extract_pdf_text(pdf.replace(
        b"/Type /ObjStm /N",
        b"/Type /ObjStm /DecodeParms << >> /N")) \
        == ["\n".join(p) for p in PAGES]
    headless = make_pdf_bytes(PAGES).replace(b"trailer", b"trailex")
    with pytest.raises(ValueError, match="no trailer keyword"):
        extract_pdf_text(headless)


def test_pdf15_objstm_member_does_not_shadow_toplevel():
    """An ObjStm member whose number collides with a top-level object
    must not overwrite it (generations are out of scope; the flat-scan
    copy is from the same file)."""
    from mcp_ocr_server_spark.functions.pdf import _Obj, _expand_objstms
    import zlib

    header = b"9 0\n"
    payload = zlib.compress(header + b"<< /Shadow true >>")
    stm = _Obj(
        b"<< /Type /ObjStm /N 1 /First " + str(len(header)).encode()
        + b" /Filter /FlateDecode >>",
        payload,
    )
    objs = {1: stm, 9: _Obj(b"<< /Original true >>", None)}
    _expand_objstms(objs)
    assert objs[9].body == b"<< /Original true >>"


def test_xref_mention_in_page_text_still_extracts():
    """/Type /XRef inside a literal STRING is page text, not a file
    structure marker — the refusal checks object heads only."""
    out = extract_pdf_text(
        _patch_content(b"BT (about /Type /XRef and /Type /ObjStm) Tj ET")
    )
    assert out == ["about /Type /XRef and /Type /ObjStm"]


# --- Type0/CID fonts via /ToUnicode (ISO 32000-1 §9.10.3) -------------------

def _type0_pdf(pages, compress=False):
    from mcp_ocr_server_spark.sources.synthetic import make_type0_pdf_bytes
    return make_type0_pdf_bytes(pages, compress)


@pytest.mark.parametrize("compress", [False, True])
def test_type0_tounicode_decodes(compress):
    pages = [["hello cid world", "second line"], ["page two"]]
    assert extract_pdf_text(_type0_pdf(pages, compress)) == [
        "hello cid world\nsecond line", "page two"]


def test_type0_layout_path_decodes():
    from mcp_ocr_server_spark.functions.pdf import extract_pdf_layout
    rows = extract_pdf_layout(_type0_pdf([["alpha beta", "gamma"]]))
    assert [r["text"] for r in rows] == ["alpha beta", "gamma"]


def test_type0_without_tounicode_stays_garbled_not_dropped():
    # bare Type0: no CMap to recover with — bytes pass through latin-1
    # (total, never silently empty), the documented `strings` behavior
    data = _type0_pdf([["ab"]])
    data = data.replace(b" /ToUnicode 4 0 R", b"")
    (page,) = extract_pdf_text(data)
    assert page == "\x01a\x01b"  # gid 0x0161 0x0162 as latin-1 bytes


def test_tounicode_unmapped_code_is_loud():
    # a gid outside every bfchar/bfrange surfaces as U+FFFD, and a
    # trailing odd byte (broken 2-byte framing) does too
    data = _type0_pdf([["ab"]])
    data = data.replace(b"<01610162> Tj", b"<016100FF> Tj")
    assert extract_pdf_text(data) == ["a�"]
    data2 = _type0_pdf([["ab"]]).replace(b"<01610162> Tj", b"<016161> Tj")
    assert extract_pdf_text(data2) == ["a�"]


def test_tounicode_bfrange_array_form_and_multichar_dst():
    from mcp_ocr_server_spark.functions.pdf import _parse_tounicode
    cmap = (b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"1 beginbfrange\n"
            b"<0010> <0012> [<0066> <00660066> <00660069>]\n"
            b"endbfrange\n"
            b"1 beginbfchar\n<0001> <20AC>\nendbfchar\n")
    dec = _parse_tounicode(cmap)
    assert dec.decode(bytes.fromhex("0010001100120001")) == "ffffi€"


def test_tounicode_single_byte_codespace():
    # simple (1-byte) fonts may carry a ToUnicode too — code width
    # comes from the codespace range
    from mcp_ocr_server_spark.functions.pdf import _parse_tounicode
    cmap = (b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
            b"1 beginbfrange\n<41> <43> <0061>\nendbfrange\n")
    dec = _parse_tounicode(cmap)
    assert dec.code_len == 1
    assert dec.decode(b"ABC") == "abc"


def test_cid_corpus_class_extracts_clean_text():
    from mcp_ocr_server_spark.sources.synthetic import (
        N_PDF_DOCS, pdf_item)
    from mcp_ocr_server_spark.queries import FLAGSHIP_CORPUS
    seen = 0
    for j in range(N_PDF_DOCS):
        ref, data, kind = pdf_item(FLAGSHIP_CORPUS, j)
        if kind != "cid":
            continue
        seen += 1
        pages = extract_pdf_text(data)
        joined = "\n".join(pages)
        assert joined and "�" not in joined
        # generator words are plain ascii prose — the CMap recovered it
        assert all(c.isascii() for c in joined)
    assert seen >= 3


# --- RC4 standard-security-handler decryption (§7.6.2-7.6.4) ----------------

def test_rc4_known_answer_vector():
    # the classic public RC4 test vector: key "Key", plaintext
    # "Plaintext" -> BBF316E8D940AF0AD3
    from mcp_ocr_server_spark.functions.pdfcrypt import rc4
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Key", rc4(b"Key", b"data")) == b"data"  # symmetric


@pytest.mark.parametrize("r, length", [
    (2, 40), (3, 128),   # RC4 V1/V2
    (4, 128),            # AES-128 crypt filter (V4 /AESV2)
    (6, 256),            # AES-256 (V5 /R6 /AESV3)
])
def test_empty_user_password_decrypts(r, length):
    pages = [["owner locked body", "line two"], ["page two"]]
    plain = make_pdf_bytes(pages, compress=True)
    want = extract_pdf_text(plain)
    enc = encrypt_pdf_bytes(plain, owner_pw=b"ownersecret",
                            r=r, length=length)
    assert b"owner locked body" not in enc  # actually ciphered
    assert extract_pdf_text(enc) == want


@pytest.mark.parametrize("r", [3, 4, 6])
def test_real_user_password_refuses(r):
    enc = encrypt_pdf_bytes(make_pdf_bytes([["x"]]), user_pw=b"hunter2",
                            owner_pw=b"o", r=r, length=128)
    with pytest.raises(ValueError, match="password required"):
        extract_pdf_text(enc)


def test_v5_r5_interim_revision_decrypts():
    """R5 (the deprecated SHA-256-only interim revision) is the
    degenerate one-hash case of the R6 path — build its U/UE by hand
    and pin that _build_v5 accepts it."""
    import hashlib

    from mcp_ocr_server_spark.functions import aes
    from mcp_ocr_server_spark.functions.pdfcrypt import build_decryptor

    file_key = hashlib.sha256(b"any 32-byte key material....x" + b"123").digest()
    vs, ks = b"v" * 8, b"k" * 8
    u = hashlib.sha256(b"" + vs).digest() + vs + ks
    ue = aes.cbc_encrypt(
        hashlib.sha256(b"" + ks).digest(), b"\x00" * 16, file_key,
        pad=False,
    )
    body = (
        b"<< /Filter /Standard /V 5 /R 5 /Length 256"
        b" /CF << /StdCF << /CFM /AESV3 >> >> /StmF /StdCF"
        b" /U <" + u.hex().encode() + b">"
        b" /UE <" + ue.hex().encode() + b"> >>"
    )
    dec = build_decryptor(body, b"")
    assert dec.mode == "aesv3" and dec.key == file_key


def test_unknown_crypt_filter_refuses_by_name():
    enc = encrypt_pdf_bytes(make_pdf_bytes([["x"]]))
    # a V4 layout with no /CF dict at all: the CFM is unknowable
    broken = enc.replace(b"/Filter /Standard /V 1 /R 2",
                         b"/Filter /Standard /V 4 /R 4")
    with pytest.raises(ValueError, match="crypt filter"):
        extract_pdf_text(broken)
    # an explicitly foreign CFM refuses with its name
    aes_enc = encrypt_pdf_bytes(make_pdf_bytes([["x"]]), r=4)
    with pytest.raises(ValueError, match="AESV1"):
        extract_pdf_text(aes_enc.replace(b"/CFM /AESV2", b"/CFM /AESV1"))


def test_v5_perms_sentinel_guards_the_file_key():
    """A corrupted /Perms must refuse rather than silently emitting
    noise streams under a wrong key."""
    enc = encrypt_pdf_bytes(make_pdf_bytes([["x"]]), owner_pw=b"o", r=6)
    m = re.search(rb"/Perms <([0-9a-f]{32})>", enc)
    assert m is not None
    flipped = bytearray(bytes.fromhex(m.group(1).decode()))
    flipped[0] ^= 0xFF
    broken = enc.replace(m.group(1), flipped.hex().encode())
    with pytest.raises(ValueError, match="Perms"):
        extract_pdf_text(broken)


@pytest.mark.parametrize("r", [2, 3, 4, 6])
def test_pdf15_layout_decrypts(r):
    """Encryption in the 1.5 XRef-stream layout — /Encrypt in the
    XRef dict, ciphered content + ObjStm payloads, PLAINTEXT xref
    stream (§7.5.8.2) — decrypts for every handler generation."""
    from mcp_ocr_server_spark.sources.synthetic import make_pdf15_bytes

    pages = [["modern encrypted body", "line two"], ["page two"]]
    plain = make_pdf15_bytes(pages)
    want = extract_pdf_text(plain)
    enc = make_pdf15_bytes(pages, encrypt_r=r)
    # actually ciphered: the (deterministic) zlib payload of page 1 in
    # the plain file appears nowhere in the encrypted one
    payload = re.search(rb"stream\n(.*?)\nendstream", plain,
                        re.S).group(1)
    assert payload not in enc
    assert extract_pdf_text(enc) == want


def test_pdf15_real_password_refuses():
    from mcp_ocr_server_spark.sources.synthetic import make_pdf15_bytes

    enc = make_pdf15_bytes([["x"]], encrypt_r=6, user_pw=b"secret")
    with pytest.raises(ValueError, match="password required"):
        extract_pdf_text(enc)


def test_aes15_corpus_class_extracts_clean_text():
    from mcp_ocr_server_spark.queries import FLAGSHIP_CORPUS
    from mcp_ocr_server_spark.sources.synthetic import (
        N_PDF_DOCS, pdf_item)

    seen = 0
    for j in range(N_PDF_DOCS):
        ref, data, kind = pdf_item(FLAGSHIP_CORPUS, j)
        if kind != "aes15":
            continue
        seen += 1
        assert b"trailer" not in data and b"/AESV3" in data
        joined = "\n".join(extract_pdf_text(data))
        assert joined and all(c.isascii() for c in joined)
    assert seen >= 2


def test_hash_2b_termination_and_determinism():
    """Algorithm 2.B: deterministic, 32 bytes, and actually iterates
    past round 64 (the data-dependent tail) for some inputs."""
    from mcp_ocr_server_spark.functions.pdfcrypt import hash_2b
    a = hash_2b(b"", b"saltsalt")
    assert a == hash_2b(b"", b"saltsalt") and len(a) == 32
    assert a != hash_2b(b"", b"other-sa")
    assert a != hash_2b(b"pw", b"saltsalt")
    assert hash_2b(b"", b"s1" * 4, b"u" * 48) != hash_2b(b"", b"s1" * 4)


@pytest.mark.parametrize("pw,salt,udata,expected", [
    (b"", b"saltsalt", b"",
     "f383e1cdcd8e7e67f45a599473d3f5a7bd181c381364391074cafe0713e3331d"),
    (b"", bytes(range(8)), b"u" * 48,
     "aaf0a7ffc1d8eb215cacf3e329d3365e3308109b21a91de209922743290203af"),
    (b"secret", b"saltsalt", b"",
     "f28f56ef5747965c3a052f8e074560c8fb02d13283508c02219717d36ef23e4c"),
    (b"secret", b"\x00\xff" * 4, bytes(range(48)),
     "13cab767b8873d187efcac2368e9351f648b7b7bced6c8dd1e70229fc57f9694"),
    ("pässwörd-ünïcode".encode() * 5, b"KEYSALT!", b"\x9a" * 48,
     "ad24b10a305e8621a4b8dcd06cbccc080c308d306dc8ebe471184c0efccf3650"),
], ids=["empty", "empty-udata", "pw", "pw-udata", "utf8-udata"])
def test_hash_2b_known_answers(pw, salt, udata, expected):
    """Pinned Algorithm 2.B outputs: a faster hash_2b must reproduce
    them exactly (empty and non-empty passwords, /U data absent and
    48 bytes, a 100-byte UTF-8 password)."""
    from mcp_ocr_server_spark.functions.pdfcrypt import hash_2b
    assert hash_2b(pw, salt, udata).hex() == expected


def test_dangling_encrypt_ref_still_refuses():
    data = make_pdf_bytes([["x"]])
    data = data.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 99 0 R")
    with pytest.raises(ValueError, match="decryption unsupported"):
        extract_pdf_text(data)


@pytest.mark.parametrize("r", [2, 4, 6])
def test_decryption_reaches_every_extractor_surface(r):
    """Type0 CMap streams and scanned-page image XObjects are streams
    too — the per-object keys must decrypt them all, under every
    cipher generation."""
    import numpy as np
    from mcp_ocr_server_spark.functions.pdf import (
        extract_pdf_page_rasters,
    )
    from mcp_ocr_server_spark.imaging.font import render_text
    from mcp_ocr_server_spark.sources.synthetic import (
        make_scanned_pdf_bytes, make_type0_pdf_bytes)

    t0 = make_type0_pdf_bytes([["cid under crypt"]])
    assert extract_pdf_text(
        encrypt_pdf_bytes(t0, r=r)
    ) == ["cid under crypt"]
    img = render_text("SCAN ENC", scale=2)
    sc = encrypt_pdf_bytes(make_scanned_pdf_bytes([img]), r=r)
    assert np.array_equal(extract_pdf_page_rasters(sc)[0], img)


def test_aes_corpus_class_extracts_clean_text():
    """Both AES variants appear in the pdf corpus and extract the same
    ascii prose as their plaintext twins."""
    from mcp_ocr_server_spark.queries import FLAGSHIP_CORPUS
    from mcp_ocr_server_spark.sources.synthetic import (
        N_PDF_DOCS, pdf_item)

    seen = 0
    for j in range(N_PDF_DOCS):
        ref, data, kind = pdf_item(FLAGSHIP_CORPUS, j)
        if kind != "aes":
            continue
        seen += 1
        # both crypt-filter layouts must appear across the corpus
        layout = b"/AESV3" if b"/AESV3" in data else b"/AESV2"
        assert layout in data
        joined = "\n".join(extract_pdf_text(data))
        assert joined and all(c.isascii() for c in joined)
    assert seen >= 2


def test_indirect_filter_refuses_not_raw_bytes():
    """A stream whose /Filter is an indirect reference (bare or inside
    the array) is refused by name: read as unfiltered, its compressed
    bytes would pass for decoded content."""
    from mcp_ocr_server_spark.functions.pdf import pdf_text_row

    data = make_pdf_bytes(PAGES, compress=True)
    assert pdf_text_row("ok", data)["error"] is None
    for ref in (b"/Filter 9 0 R", b"/Filter [9 0 R]"):
        row = pdf_text_row("r", data.replace(b"/Filter /FlateDecode", ref))
        assert row["text"] is None
        assert "indirect /Filter" in row["error"]


def test_smask_reference_cycle_refuses():
    """An image /SMask chain that returns to an object already being
    decoded is a named ValueError, never a RecursionError: the image
    masking itself, an image and its mask referencing each other, and
    two masks referencing each other."""
    import numpy as np

    from mcp_ocr_server_spark.functions.pdf import (
        _decode_image_xobject, _Obj, extract_pdf_page_rasters)
    from mcp_ocr_server_spark.sources.synthetic import (
        make_scanned_pdf_bytes)

    data = make_scanned_pdf_bytes([np.full((4, 4), 200, np.uint8)],
                                  variant="smask", flate=False)
    assert b"4 0 obj\n<< /Subtype /Image" in data
    assert b"/SMask 6 0 R" in data
    (page,) = extract_pdf_page_rasters(data)
    assert page.shape == (4, 4)
    self_ref = data.replace(b"/SMask 6 0 R", b"/SMask 4 0 R")
    mutual = data.replace(b"/BitsPerComponent 8 /Filter",
                          b"/BitsPerComponent 8 /SMask 4 0 R /Filter")
    assert self_ref != data != mutual
    for bad in (self_ref, mutual):
        with pytest.raises(ValueError, match="/SMask reference cycle"):
            extract_pdf_page_rasters(bad)

    gray = (b"<< /Subtype /Image /Width 4 /Height 4"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8")
    masks = {8: _Obj(gray + b" /SMask 9 0 R >>", bytes(16)),
             9: _Obj(gray + b" /SMask 8 0 R >>", bytes(16))}
    with pytest.raises(ValueError, match="/SMask reference cycle"):
        _decode_image_xobject(_Obj(gray + b" /SMask 8 0 R >>", bytes(16)),
                              masks)
