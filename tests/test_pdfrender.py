"""Content-stream PDF renderer (functions/pdfrender.render_pdf_pages)
— the compositing path the single-XObject raster extractor refuses.

Pins: scanned-writer identity (a one-image full-page Do reproduces the
embedded raster bit-exactly), exact pixel placement for rect fills and
text, graphics-state save/restore, text positioning semantics (Td/TD/
TL/T*/Tm/TJ kerning/Tc/Tw), invisible Tr 3 layers, the refusal
contract for out-of-scope constructs, fuzz (arbitrary bytes never leak
a non-ValueError), corpus truth recovery for every renderable class,
and the e2e pdf_text_row fallback for compositing documents.
"""

import re

import numpy as np
import pytest

from mcp_ocr_server_spark.config import FIXTURE_JOB
from mcp_ocr_server_spark.functions.pdf import pdf_text_row
from mcp_ocr_server_spark.functions.pdfrender import render_pdf_pages
from mcp_ocr_server_spark.imaging.font import GLYPHS, render_text
from mcp_ocr_server_spark.ocr.engine import get_engine
from mcp_ocr_server_spark.operators.media_ocr import render_pdf_rows
from mcp_ocr_server_spark.sources import synthetic as S

CORPUS = S.CorpusConfig(n_docs=120)


def page(elements, n_copies=1):
    return S.make_composite_pdf_bytes([list(elements)] * n_copies)


def ocr(img):
    return get_engine(FIXTURE_JOB.ocr).recognize(img).text


# --- identity with the scanned-PDF writer ---------------------------------

def test_scanned_writer_identity():
    img = render_text("HELLO WORLD\nSECOND LINE", scale=3)
    data = S.make_scanned_pdf_bytes([img])
    (out,) = render_pdf_pages(data)
    assert np.array_equal(out, img)


def test_multi_page_order():
    a = render_text("PAGE ONE", scale=2)
    b = render_text("PAGE TWO", scale=2)
    data = S.make_scanned_pdf_bytes([a, b])
    pa, pb = render_pdf_pages(data)
    assert np.array_equal(pa, a) and np.array_equal(pb, b)


# --- exact pixel placement -------------------------------------------------

def test_rect_fill_exact_pixels():
    data = page([("rect", 10, 20, 30, 40, 0.0)])
    (out,) = render_pdf_pages(data)
    assert out.shape == (792, 612)
    # device rows: y in [20, 60) pt -> rows [792-60, 792-20)
    assert (out[732:772, 10:40] == 0).all()
    assert (out[731, 10:40] == 255).all() and (out[772, 10:40] == 255).all()
    assert (out[732:772, 9] == 255).all() and (out[732:772, 40] == 255).all()


def test_rect_fill_gray_level_is_bt601_luma():
    data = page([("raw", b"0.5 0.25 1 rg 0 0 10 10 re f")])
    (out,) = render_pdf_pages(data)
    # luma of (128, 64, 255) = (77*128 + 150*64 + 29*255 + 128) >> 8
    assert out[791, 0] == (77 * 128 + 150 * 64 + 29 * 255 + 128) >> 8


def test_image_native_size_placement():
    img = render_text("X", scale=2)
    h, w = img.shape
    data = page([("image", img, 100, 300)])
    (out,) = render_pdf_pages(data)
    r0 = 792 - 300 - h
    assert np.array_equal(out[r0:r0 + h, 100:100 + w], img)


def test_image_scaled_through_cm():
    # a 2x2 checkerboard painted into a 10x10 box: nearest-neighbor
    # quadrant blocks
    img = np.array([[0, 255], [255, 0]], dtype=np.uint8)
    raw = b"q 10 0 0 10 0 0 cm /Im0 Do Q"
    data = S.make_composite_pdf_bytes([[("image", img, 0, 0),
                                        ("raw", raw)]])
    (out,) = render_pdf_pages(data)
    # the raw op re-paints the same XObject scaled into [0,10)^2 at
    # the page's bottom-left corner (rows 782-791)
    assert (out[782:787, 0:5] == 0).all()
    assert (out[782:787, 5:10] == 255).all()
    assert (out[787:792, 0:5] == 255).all()
    assert (out[787:792, 5:10] == 0).all()


def test_text_glyph_exact_pixels():
    # 'A' at 20pt: glyph scale k = 0.7*20/7 = 2, cell bottom on the
    # baseline -> rows [792-100-14, 792-100), cols [72, 82)
    data = page([("text", "A", 72, 100, 20)])
    (out,) = render_pdf_pages(data)
    big = np.kron(GLYPHS["A"], np.ones((2, 2), dtype=np.uint8))
    expect = np.full_like(big, 255, dtype=np.uint8)
    expect[big == 1] = 0
    assert np.array_equal(out[678:692, 72:82], expect)


def test_q_restores_fill_color():
    data = page([("raw", b"q 0.5 g Q 0 0 5 5 re f")])
    (out,) = render_pdf_pages(data)
    assert out[791, 0] == 0  # black, not the discarded 0.5 gray


# --- text positioning semantics --------------------------------------------

def test_multiline_tstar_and_tj_kerning():
    raw = (b"BT /F1 20 Tf 24 TL 72 400 Td"
           b" [(AB) -500 (CD)] TJ T* (NEXT LINE) Tj ET")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    assert ocr(out) == "AB CD\nNEXT LINE"


def test_char_and_word_spacing_advance():
    # Tc 12 at 20pt: per-glyph advance 12 + 12 = 24pt, so B's cell
    # starts at col 96 instead of the unspaced 84; Tw shifts only the
    # glyph AFTER a space (word gap 12 + 12 + 8 = 32pt)
    raw = b"BT /F1 20 Tf 12 Tc 72 400 Td (AB) Tj ET"
    (out,) = render_pdf_pages(page([("raw", raw)]))
    base = render_pdf_pages(
        page([("raw", b"BT /F1 20 Tf 72 400 Td (AB) Tj ET")]))[0]
    rows = slice(792 - 400 - 14, 792 - 400)
    assert np.array_equal(out[rows, 72:82], base[rows, 72:82])  # A same
    assert np.array_equal(out[rows, 96:106], base[rows, 84:94])  # B moved
    raww = b"BT /F1 20 Tf 8 Tw 72 400 Td (A B) Tj ET"
    (outw,) = render_pdf_pages(page([("raw", raww)]))
    # A at 72; space advance 12 + 8 = 20 -> B's cell starts at 72+12+20
    assert np.array_equal(outw[rows, 104:114], base[rows, 84:94])


def test_quote_operator_moves_to_next_line():
    raw = (b"BT /F1 20 Tf 24 TL 72 400 Td (TOP) Tj"
           b" (DOWN) ' ET")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    assert ocr(out) == "TOP\nDOWN"


def test_invisible_tr3_not_painted_but_advances():
    data = page([("hidden", "SECRET", 72, 400, 20)])
    (out,) = render_pdf_pages(data)
    assert (out == 255).all()


def test_lowercase_input_renders_uppercase_atlas():
    data = page([("text", "hello", 72, 400, 20)])
    (out,) = render_pdf_pages(data)
    assert ocr(out) == "HELLO"


# --- vector paths: fills, winding rules, strokes, clips ---------------------

def test_triangle_fill_exact_coverage():
    """Pixel-center scanline fill of a right triangle covers exactly
    base*height/2 pixels (the half-pixel offsets cancel row by row)."""
    (out,) = render_pdf_pages(
        page([("raw", b"0 g 100 100 m 200 100 l 100 200 l h f")])
    )
    # pixel centers at y = k + 0.5 see the hypotenuse at x = 200 - y:
    # rows cover 100, 99, …, 1 columns -> sum = L(L+1)/2
    assert int((out < 255).sum()) == 100 * 101 // 2


def test_winding_rules_differ_on_self_intersection():
    """A five-point star: nonzero fills the pentagram core, even-odd
    leaves it white — the classic rule discriminator."""
    star = b"100 300 m 160 340 l 90 340 l 150 300 l 125 360 l h "
    (nz,) = render_pdf_pages(page([("raw", b"0 g " + star + b"f")]))
    (eo,) = render_pdf_pages(page([("raw", b"0 g " + star + b"f*")]))
    ink_nz = int((nz < 255).sum())
    ink_eo = int((eo < 255).sum())
    assert ink_nz > ink_eo > 0
    # the even-odd ink is a strict subset of the nonzero ink
    assert (((eo < 255) & ~(nz < 255)).sum()) == 0


def test_bezier_flattening_symmetric_and_bounded():
    """y-symmetric cubic: the filled blob is left-right symmetric about
    the curve's midpoint column and stays inside its control box."""
    raw = b"0 g 300 100 m 350 200 400 200 450 100 c h f"
    (out,) = render_pdf_pages(page([("raw", raw)]))
    ink = out < 255
    rows, cols = np.nonzero(ink)
    assert cols.min() >= 300 and cols.max() <= 450
    assert rows.min() >= 792 - 200 and rows.max() <= 792 - 100
    mid = (300 + 450) / 2
    assert abs((cols - mid).mean()) < 1.0  # symmetry


def test_stroke_exact_rule_geometry():
    """An axis-aligned 4-pt-wide table rule paints exactly a
    length x width rectangle (butt caps)."""
    raw = b"4 w 0 G 72 500 m 540 500 l S"
    (out,) = render_pdf_pages(page([("raw", raw)]))
    ink = out < 255
    assert int(ink.sum()) == (540 - 72) * 4
    rows, cols = np.nonzero(ink)
    assert cols.min() == 72 and cols.max() == 539
    assert rows.max() - rows.min() == 3


def test_stroke_closed_path_square_joins():
    """s closes the path; a stroked rectangle outline is the frame of
    outer minus inner area (square joins are exact at 90°)."""
    raw = b"2 w 0 G 100 100 m 200 100 l 200 180 l 100 180 l s"
    (out,) = render_pdf_pages(page([("raw", raw)]))
    outer = (100 + 2) * (80 + 2)
    inner = (100 - 2) * (80 - 2)
    assert int((out < 255).sum()) == outer - inner


def test_fill_and_stroke_B_uses_both_colors():
    raw = b"0.5 g 0 G 4 w 100 100 m 200 100 l 150 200 l b"
    (out,) = render_pdf_pages(page([("raw", raw)]))
    grays = set(np.unique(out).tolist())
    assert 0 in grays and 128 in grays and 255 in grays


def test_clip_bounds_fill_and_restores_with_Q():
    """W n clips a later oversized fill to exactly the clip rect; Q
    restores the unclipped state."""
    raw = (b"q 72 600 100 50 re W n"
           b" 0 g 50 580 200 100 re f Q"
           b" 0 g 10 10 5 5 re f")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    assert int((out < 255).sum()) == 100 * 50 + 25


def test_clip_applies_to_text_and_images():
    img = np.zeros((40, 40), dtype=np.uint8)
    raw_img = (b"q 100 700 20 40 re W n "
               b"q 40 0 0 40 100 700 cm /Im0 Do Q Q")
    data = page([("image", np.full((1, 1), 255, np.uint8), 0, 0),
                 ("raw", raw_img)])
    # rebuild with the real image as Im0: simpler — draw via raw on a
    # page whose only XObject is the 40x40 black square
    data = S.make_composite_pdf_bytes([[("image", img, 100, 700)]])
    data = data.replace(
        b"q 40 0 0 40 100 700 cm /Im0 Do Q",
        b"q 100 700 20 40 re W n 40 0 0 40 100 700 cm /Im0 Do Q",
    )
    (out,) = render_pdf_pages(data)
    assert int((out < 255).sum()) == 20 * 40
    # text under a clip: glyph ink outside the band is masked
    raw_t = (b"q 72 395 30 30 re W n "
             b"BT /F1 20 Tf 72 400 Td (HHHH) Tj ET Q")
    (clipped,) = render_pdf_pages(page([("raw", raw_t)]))
    (full,) = render_pdf_pages(
        page([("raw", b"BT /F1 20 Tf 72 400 Td (HHHH) Tj ET")])
    )
    assert 0 < int((clipped < 255).sum()) < int((full < 255).sum())
    assert ((clipped < 255) & ~(full < 255)).sum() == 0


def test_dashed_stroke_exact_duty_cycle():
    """[6 4] over a 100-pt 2-pt-wide rule: 10 full cycles, 60 pt ON —
    exactly 120 ink pixels; phase shifts the ON runs but not the
    total; the dash state restores with Q."""
    (out,) = render_pdf_pages(
        page([("raw", b"2 w 0 G [6 4] 0 d 100 500 m 200 500 l S")])
    )
    assert int((out < 255).sum()) == 60 * 2
    (ph,) = render_pdf_pages(
        page([("raw", b"2 w 0 G [6 4] 3 d 100 500 m 200 500 l S")])
    )
    assert int((ph < 255).sum()) == 60 * 2
    assert not np.array_equal(out, ph)
    # Q restores solid
    (solid,) = render_pdf_pages(page([(
        "raw",
        b"q [6 4] 0 d Q 2 w 0 G 100 500 m 200 500 l S",
    )]))
    assert int((solid < 255).sum()) == 100 * 2


def test_inline_image_unfiltered_gray():
    data = bytes([0, 255] * 2 + [255, 0] * 2) * 2  # 4x4 checkerboard
    raw = (b"q 40 0 0 40 100 600 cm BI /W 4 /H 4 /BPC 8 /CS /G ID "
           + data + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 640:792 - 600, 100:140]
    assert int((reg == 0).sum()) == 800  # half of the 40x40 paste


def test_inline_image_flate_rgb_and_ahx():
    import zlib as _z
    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    raw = (b"q 20 0 0 20 300 600 cm BI /W 2 /H 2 /BPC 8 /CS /RGB"
           b" /F /Fl ID " + _z.compress(rgb) + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 620:792 - 600, 300:320]
    # BT.601 lumas of pure R/G/B + white
    assert sorted(np.unique(reg).tolist()) == [29, 77, 149, 255]
    raw = (b"q 10 0 0 10 400 600 cm BI /W 2 /H 1 /BPC 8 /CS /G"
           b" /F /AHx ID 00 FF> EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 610:792 - 600, 400:410]
    assert set(np.unique(reg).tolist()) == {0, 255}


def test_inline_image_1bit_and_ei_inside_data():
    # 1-bit 8x2: rows 0b10101010 = pixels alternating
    raw = (b"q 8 0 0 2 100 100 cm BI /W 8 /H 2 /BPC 1 /CS /G ID "
           + bytes([0b10101010, 0b01010101]) + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 102:792 - 100, 100:108]
    assert int((reg == 0).sum()) == 8
    # unfiltered data whose BYTES spell ' EI ' cannot end the image
    # early — length comes from /W /H arithmetic, not a search
    data = b" EI " * 4  # 16 bytes = 4x4 8-bit gray
    raw = (b"q 4 0 0 4 200 100 cm BI /W 4 /H 4 /BPC 8 /CS /G ID "
           + data + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))  # must not raise


def test_inline_image_rl_lzw_a85():
    """The remaining decodable inline filters: /RL ends exactly at its
    EOD byte (even when the decoded pixels spell ' EI '), /LZW
    self-terminates at its EOI code, /A85 at '~>' — none searches the
    image bytes for the EI delimiter."""
    import base64 as _b64
    import zlib as _z

    from mcp_ocr_server_spark.imaging.tiff import lzw_encode
    from mcp_ocr_server_spark.sources.synthetic import _rl_encode

    data = b" EI " * 4  # 16 bytes = 4x4 8-bit gray spelling EI
    raw = (b"q 4 0 0 4 100 300 cm BI /W 4 /H 4 /BPC 8 /CS /G"
           b" /F /RL ID " + _rl_encode(data) + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 304:792 - 300, 100:104]
    assert set(np.unique(reg).tolist()) == {0x20, 0x45, 0x49}
    checker = bytes([0, 255] * 2 + [255, 0] * 2) * 2
    raw = (b"q 4 0 0 4 200 300 cm BI /W 4 /H 4 /BPC 8 /CS /G"
           b" /F /LZW ID " + lzw_encode(checker) + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 304:792 - 300, 200:204]
    assert int((reg == 0).sum()) == 8
    armored = _b64.a85encode(_z.compress(checker)) + b"~>"
    raw = (b"q 4 0 0 4 300 300 cm BI /W 4 /H 4 /BPC 8 /CS /G"
           b" /F [/A85 /Fl] ID " + armored + b" EI Q")
    # array filter heads on inline images: A85 then Flate — the A85
    # branch handles only the single-filter form, so this refuses…
    with pytest.raises(ValueError, match="filter"):
        render_pdf_pages(page([("raw", raw)]))
    raw = (b"q 4 0 0 4 300 300 cm BI /W 4 /H 4 /BPC 8 /CS /G"
           b" /F /A85 ID " + _b64.a85encode(checker) + b"~> EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 304:792 - 300, 300:304]
    assert int((reg == 0).sum()) == 8


def test_inline_image_dct_via_in_repo_codec():
    """/DCT inline data rides imaging/jpeg.decode_jpeg; the stream
    self-terminates at EOI so no EI search touches entropy bytes."""
    from mcp_ocr_server_spark.imaging.jpeg import encode_jpeg

    src = np.full((8, 8), 32, dtype=np.uint8)
    jpg = encode_jpeg(src, quality=95)
    raw = (b"q 8 0 0 8 100 200 cm BI /W 8 /H 8 /BPC 8 /CS /G"
           b" /F /DCT ID " + jpg + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    reg = out[792 - 208:792 - 200, 100:108]
    assert abs(int(reg.mean()) - 32) < 6  # lossy but close


# --- form XObjects (§8.10) --------------------------------------------------

def test_form_xobject_matrix_placement_and_reuse():
    """One form painted twice through different /Matrix values — the
    logo-reuse shape: unit content lands scaled+translated exactly."""
    inner = b"0 g 0 0 10 10 re f"
    data = page([
        ("form", inner, (1, 0, 0, 1, 100, 100), (0, 0, 10, 10)),
        ("form", inner, (2, 0, 0, 2, 300, 100), (0, 0, 10, 10)),
    ])
    (out,) = render_pdf_pages(data)
    ink = out < 255
    assert int(ink[792 - 110:792 - 100, 100:110].sum()) == 100
    assert int(ink[792 - 120:792 - 100, 300:320].sum()) == 400
    assert int(ink.sum()) == 500


def test_form_bbox_clips_overdraw():
    data = page([
        ("form", b"0 g 0 0 50 50 re f", (1, 0, 0, 1, 100, 100),
         (0, 0, 10, 10)),
    ])
    (out,) = render_pdf_pages(data)
    assert int((out < 255).sum()) == 100


def test_form_state_changes_do_not_leak():
    """§8.10.1 implicit save/restore: a fill color set inside the
    form must not affect the caller's later paint."""
    data = page([
        ("form", b"0.5 g", None, None),
        ("rect", 0, 0, 5, 5, 0.0),
    ])
    (out,) = render_pdf_pages(data)
    assert out[791, 0] == 0  # black, not the form's 0.5 gray


def test_form_nesting_depth_bomb_refuses():
    """A form whose content invokes /Im0 with no own /Resources falls
    back to the page's XObject dict — i.e. itself; the depth cap must
    refuse instead of recursing forever."""
    data = page([("form", b"/Im0 Do", None, (0, 0, 10, 10))])
    with pytest.raises(ValueError, match="nesting too deep"):
        render_pdf_pages(data)


def test_form_text_recovers_through_ocr():
    inner = b"BT /F1 20 Tf 0 0 Td (FORM TEXT) Tj ET"
    data = page([
        ("form", inner, (1, 0, 0, 1, 72, 400), (0, -10, 300, 30)),
    ])
    rows = render_pdf_rows("m", data, FIXTURE_JOB)
    assert rows[0]["error"] is None
    assert "FORM TEXT" in rows[0]["text"]


def test_bi_inside_text_string_is_not_an_image():
    (out,) = render_pdf_pages(
        page([("text", "BI ID EI", 72, 400, 20)])
    )
    assert int((out < 255).sum()) > 0  # rendered as glyphs, no error


def test_vector_decoration_under_ocr_text_e2e():
    """The realistic composite: a stroked rule + filled triangle bullet
    decorating a text line — OCR still recovers the text."""
    raw = (b"1.5 w 0 G 72 390 m 400 390 l S "
           b"0 g 60 400 m 68 404 l 60 408 l h f")
    data = page([
        ("raw", raw),
        ("text", "VECTOR ART PAGE", 72, 400, 20),
    ])
    rows = render_pdf_rows("m", data, FIXTURE_JOB)
    assert rows[0]["error"] is None
    assert "VECTOR ART PAGE" in rows[0]["text"]


# --- refusal contract -------------------------------------------------------

@pytest.mark.parametrize(
    "raw, msg",
    [
        (b"BT /F1 20 Tf 0.7 0.7 -0.7 0.7 100 400 Tm (T) Tj ET",
         "non-axis-aligned"),
        (b"q 10 0 5 10 0 0 cm Q", "non-axis-aligned"),
        (b"100 100 l f", "without a moveto"),
        (b"[-3 2] 0 d 100 100 m 200 200 l S", "invalid dash"),
        (b"BI /W 1 /H 1 /CS /CMYK ID x EI", "colorspace"),
        (b"BI /W 8 /H 1 /BPC 8 /IM true ID x EI", "BPC must be 1"),
        (b"BI /W 1 /H 1 /F /CCF ID x EI", "filter"),
        (b"/GS0 gs", "ExtGState"),
        (b"BT /F1 20 Tf 1 Tr (T) Tj ET", "render mode 1"),
        (b"BT /F1 20 Tf 50 Tz (T) Tj ET", "horizontal text scaling"),
        (b"0 0 0 1 k", "CMYK"),
    ],
    ids=["rot-tm", "shear-cm", "bare-lineto", "neg-dash",
         "inline-cmyk", "inline-mask-bpc", "inline-ccf",
         "extgstate", "tr-stroke", "tz", "cmyk"],
)
def test_refusals(raw, msg):
    with pytest.raises(ValueError, match=msg):
        render_pdf_pages(page([("raw", raw)]))


def test_rotate_90_multiples_render_display_orientation():
    """/Rotate is the clockwise DISPLAY rotation (§7.7.3.3): the
    rendered canvas is exactly the unrotated raster rotated k×90°
    clockwise — the sideways-scanner-PDF shape; non-multiples of 90
    still refuse."""
    data = page([("text", "T", 72, 400, 20)])
    (base,) = render_pdf_pages(data)
    for deg, k in ((90, -1), (180, -2), (270, -3), (-90, 1)):
        d = data.replace(
            b"/MediaBox [0 0 612 792]",
            b"/Rotate %d /MediaBox [0 0 612 792]" % deg)
        (out,) = render_pdf_pages(d)
        assert np.array_equal(out, np.rot90(base, k=k)), deg
    bad = data.replace(b"/MediaBox [0 0 612 792]",
                       b"/Rotate 45 /MediaBox [0 0 612 792]")
    with pytest.raises(ValueError, match="multiple of 90"):
        render_pdf_pages(bad)


def test_non_pdf_and_encrypted_refuse():
    with pytest.raises(ValueError, match="missing %PDF- header"):
        render_pdf_pages(b"\x00\x01\x02")
    data = page([("text", "T", 72, 400, 20)])
    data = data.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        render_pdf_pages(data)


def test_fuzz_exception_contract():
    """Arbitrary / truncated / magic-prefixed bytes either render or
    raise ValueError — never a leaked struct/zlib/index error (the
    same contract every codec in imaging/ carries)."""
    rng = np.random.default_rng(20260820)
    good = page([("text", "FUZZ", 72, 400, 20),
                 ("rect", 10, 10, 50, 5, 0.2)])
    cases = [bytes(rng.integers(0, 256, 64, dtype=np.uint8).tolist())
             for _ in range(25)]
    cases += [b"%PDF-" + bytes(rng.integers(0, 256, 64, dtype=np.uint8).tolist())
              for _ in range(25)]
    cases += [good[:k] for k in range(0, len(good), 97)]
    for data in cases:
        try:
            render_pdf_pages(data)
        except ValueError:
            pass


# --- corpus truth recovery + shared row code --------------------------------

def test_corpus_truth_recovery_all_classes():
    seen = set()
    for j in range(S.N_COMP_PDFS):
        ref, data, kind, truth = S.comp_pdf_item(CORPUS, j)
        rows = render_pdf_rows(ref, data, FIXTURE_JOB)
        seen.add(kind)
        if kind in ("garbage", "rotated"):
            assert len(rows) == 1 and rows[0]["error"] is not None
            assert rows[0]["page_idx"] is None
        else:
            assert all(r["error"] is None for r in rows)
            got = "\n".join(r["text"] for r in rows)
            assert got == truth, (j, kind)
            assert all(r["confidence"] > 50 for r in rows)
    assert seen == {"text_over_image", "two_images", "ocr_layer",
                    "rect_bg", "vector", "clipped", "form",
                    "gradient", "rotated", "garbage"}


def test_determinism():
    _ref, a, _k, _t = S.comp_pdf_item(CORPUS, 0)
    _ref, b, _k, _t = S.comp_pdf_item(CORPUS, 0)
    assert a == b
    assert np.array_equal(render_pdf_pages(a)[0], render_pdf_pages(b)[0])


# --- e2e: the pdf branch's compositing fallback ------------------------------

def test_pdf_text_row_compositing_fallback():
    """A text-less document whose page paints TWO image XObjects used
    to dead-end (extract_pdf_page_rasters refuses, no text) — the
    renderer fallback now recovers both scan strips in reading
    order."""
    top = render_text("UPPER STRIP", scale=2)
    bot = render_text("LOWER STRIP", scale=2)
    data = S.make_composite_pdf_bytes([[
        ("image", top, 72, 640),
        ("image", bot, 72, 520),
    ]])
    row = pdf_text_row("/x/comp.pdf", data, ocr_cfg=FIXTURE_JOB)
    assert row["error"] is None
    assert row["text"] == "UPPER STRIP\nLOWER STRIP"
    assert row["confidence"] < 100.0  # OCR scale, not born-digital


def test_pdf_text_row_born_digital_unaffected():
    """Born-digital text documents still take the exact parse (the
    renderer fallback is reached only when content streams yield no
    text AND the raster path refuses with a compositing error)."""
    data = S.make_pdf_bytes([["hello from page one"]], compress=True)
    row = pdf_text_row("/x/text.pdf", data, ocr_cfg=FIXTURE_JOB)
    assert row["error"] is None
    assert "hello from page one" in row["text"]
    assert row["confidence"] == 100.0


# --- review-finding regressions ----------------------------------------------

def test_single_image_with_visible_caption_routes_to_renderer():
    """A page whose single image carries a VISIBLE text caption is
    compositing: the bare-XObject shortcut must refuse (a raster
    without the caption is silently wrong) and the renderer must
    produce the composited page."""
    from mcp_ocr_server_spark.functions.multimodal import parse_pdf_pages
    from mcp_ocr_server_spark.functions.pdf import (
        extract_pdf_page_rasters,
    )
    img = render_text("SCAN BODY", scale=2)
    data = S.make_composite_pdf_bytes([[
        ("image", img, 72, 600),
        ("text", "CAPTION LINE", 72, 520, 20),
    ]])
    with pytest.raises(ValueError, match="compositing"):
        extract_pdf_page_rasters(data)
    (page,) = parse_pdf_pages(data)  # falls through to the renderer
    assert page.shape == (792, 612)
    assert ocr(page) == "SCAN BODY\nCAPTION LINE"


def test_invisible_ocr_layer_keeps_the_raster_shortcut():
    """Tr 3 text over a single image is the searchable-scan shape the
    shortcut remains exactly correct for — it must NOT refuse."""
    from mcp_ocr_server_spark.functions.pdf import (
        extract_pdf_page_rasters,
    )
    img = render_text("SCAN", scale=2)
    data = S.make_composite_pdf_bytes([[
        ("image", img, 72, 600),
        ("hidden", "SCAN", 72, 604, 20),
    ]])
    (out,) = extract_pdf_page_rasters(data)
    assert np.array_equal(out, img)


def test_rect_fill_also_routes_to_renderer():
    from mcp_ocr_server_spark.functions.pdf import (
        extract_pdf_page_rasters,
    )
    img = render_text("SCAN", scale=2)
    data = S.make_composite_pdf_bytes([[
        ("image", img, 72, 600),
        ("rect", 60, 100, 200, 10, 0.2),
    ]])
    with pytest.raises(ValueError, match="compositing"):
        extract_pdf_page_rasters(data)


@pytest.mark.parametrize("rot, k", [(-90, 1), (90, -1), (270, -3),
                                    (360, 0), (0, 0)])
def test_rotate_variants(rot, k):
    """Any /Rotate multiple of 90 renders as the clockwise-rotated
    display raster (§7.7.3.3); multiples of 360 are the identity."""
    data = page([("text", "T", 72, 400, 20)])
    (base,) = render_pdf_pages(data)
    rotated = data.replace(
        b"/MediaBox [0 0 612 792]",
        b"/Rotate %d /MediaBox [0 0 612 792]" % rot)
    (out,) = render_pdf_pages(rotated)
    assert np.array_equal(out, np.rot90(base, k=k))


def test_rotate_inherited_from_pages_node_applies():
    data = page([("text", "T", 72, 400, 20)])
    (base,) = render_pdf_pages(data)
    inh = data.replace(b"<< /Type /Pages ",
                       b"<< /Type /Pages /Rotate 90 ")
    (out,) = render_pdf_pages(inh)
    assert np.array_equal(out, np.rot90(base, k=-1))


def test_q_restores_text_state():
    """Tr 3 (and spacing) set inside q..Q must not leak past Q —
    the graphics state includes the text state (§8.4.2)."""
    raw = (b"q BT /F1 20 Tf 3 Tr 72 500 Td (HIDDEN) Tj ET Q "
           b"BT /F1 20 Tf 72 400 Td (SHOWN) Tj ET")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    assert ocr(out) == "SHOWN"
    raww = (b"q BT /F1 20 Tf 40 Tc ET Q "
            b"BT /F1 20 Tf 72 400 Td (AB) Tj ET")
    (outw,) = render_pdf_pages(page([("raw", raww)]))
    base = render_pdf_pages(
        page([("raw", b"BT /F1 20 Tf 72 400 Td (AB) Tj ET")]))[0]
    assert np.array_equal(outw, base)  # Tc did not leak


# --- axial shading (sh, /ShadingType 2) -------------------------------------

def test_axial_shading_exact_ramp_in_clip():
    """A 256-pt axis under a clip band: every pixel's gray equals the
    rounded linear ramp exactly; pixels outside the clip stay
    white."""
    data = page([
        ("raw", b"q 100 100 256 10 re W n"),
        ("axial", 100, 0, 356, 0, 0.0, 1.0, True),
        ("raw", b"Q"),
    ])
    (out,) = render_pdf_pages(data)
    band = out[792 - 110:792 - 100, 100:356]
    exp = np.clip(np.rint(
        (np.arange(100, 356) + 0.5 - 100) / 256 * 255), 0, 255)
    assert (band == exp[None, :]).all()
    assert out[0, 0] == 255


def test_axial_shading_extend_false_leaves_outside_untouched():
    data = page([
        ("raw", b"q 100 100 300 10 re W n"),
        ("axial", 150, 0, 250, 0, 0.0, 1.0, False),
        ("raw", b"Q"),
    ])
    (out,) = render_pdf_pages(data)
    row = out[792 - 105]
    assert row[120] == 255          # before the axis start: untouched
    assert row[380] == 255          # after the end: untouched
    assert row[160] < row[240]      # ramp inside


def test_radial_shading_exact_disc():
    """A point-to-circle radial blend (r0=0): every pixel inside the
    disc grays to round(dist/R * 255) exactly; with /Extend [false
    false] pixels outside the disc stay untouched."""
    cx, cy, R = 300.0, 400.0, 60.0
    data = page([
        ("radial", cx, cy, 0.0, cx, cy, R, 0.0, 1.0, False),
    ])
    (out,) = render_pdf_pages(data)
    h, w = out.shape
    ys = np.arange(h)[:, None] + 0.5
    xs = np.arange(w)[None, :] + 0.5
    dist = np.hypot(xs - cx, ys - (792 - cy))
    inside = dist <= R
    exp = np.clip(np.rint(dist / R * 255), 0, 255)
    assert (out[inside] == exp[inside]).all()
    # sub-pixel boundary effects aside, the outside stays white
    assert (out[dist > R + 1.5] == 255).all()


def test_radial_shading_extend_clamps_outside():
    """/Extend [true true] paints beyond r1 with C1 (t clamps to 1) —
    the page floods with the edge color instead of staying white."""
    data = page([
        ("radial", 300, 400, 0.0, 300, 400, 40.0, 1.0, 0.25, True),
    ])
    (out,) = render_pdf_pages(data)
    assert out[0, 0] == round(0.25 * 255)      # far corner: clamped C1
    # center pixel sits 0.707 px from the exact center: t = .707/40
    assert out[792 - 400, 300] == round(
        (1.0 - np.hypot(0.5, 0.5) / 40.0 * 0.75) * 255)


def test_radial_annulus_between_circles():
    """Concentric r0 > 0: inside the INNER circle no s in [0,1]
    solves the blend (extend off), so those pixels stay untouched;
    the annulus ramps C0 -> C1 with t = (dist - r0) / (r1 - r0)."""
    cx, cy, r0, r1 = 300.0, 400.0, 20.0, 50.0
    data = page([
        ("radial", cx, cy, r0, cx, cy, r1, 0.0, 1.0, False),
    ])
    (out,) = render_pdf_pages(data)
    h, w = out.shape
    ys = np.arange(h)[:, None] + 0.5
    xs = np.arange(w)[None, :] + 0.5
    dist = np.hypot(xs - cx, ys - (792 - cy))
    ann = (dist >= r0) & (dist <= r1)
    exp = np.clip(np.rint((dist - r0) / (r1 - r0) * 255), 0, 255)
    assert (out[ann] == exp[ann]).all()
    assert (out[dist < r0 - 1.5] == 255).all()   # hole untouched


def test_stitching_function_v_ramp():
    """A Type 3 stitching of two exponential halves paints a V: dark
    at the axis midpoint, light at both ends, exact per pixel."""
    data = page([
        ("raw", b"q 100 100 200 10 re W n"),
        ("shstitch", 100.0, 0.0, 300.0, 0.0),
        ("raw", b"Q"),
    ])
    (out,) = render_pdf_pages(data)
    band = out[792 - 110:792 - 100, 100:300]
    t = (np.arange(100, 300) + 0.5 - 100) / 200.0
    exp = np.where(t < 0.5, 1.0 - t / 0.5 * 1.0,
                   (t - 0.5) / 0.5)
    exp = np.clip(np.rint(exp * 255), 0, 255)
    assert (band == exp[None, :]).all()


def test_self_referencing_stitching_function_refuses():
    """A Type 3 function listing its own shading object among its
    /Functions hits the nesting cap as a ValueError, not a
    RecursionError."""
    data = page([("shstitch", 100.0, 0.0, 300.0, 0.0)])
    num = re.search(rb"(\d+) 0 obj\s*<< /ShadingType 2", data).group(1)
    sub = b"<< /FunctionType 2 /Domain [0 1] /C0 [1] /C1 [0] /N 1 >>"
    assert sub in data
    with pytest.raises(ValueError, match="nesting too deep"):
        render_pdf_pages(data.replace(sub, num + b" 0 R"))


def test_sampled_function_linear_interpolation():
    """A Type 0 sampled stream [255, 0, 255] under /Range [0 1]
    interpolates linearly between table entries — the same V ramp,
    built from data instead of algebra."""
    data = page([
        ("raw", b"q 100 200 128 10 re W n"),
        ("shsampled", 100.0, 0.0, 228.0, 0.0, [255, 0, 255]),
        ("raw", b"Q"),
    ])
    (out,) = render_pdf_pages(data)
    band = out[792 - 210:792 - 200, 100:228]
    t = (np.arange(100, 228) + 0.5 - 100) / 128.0
    x = t * 2.0  # table index space (n-1 = 2)
    tab = np.array([1.0, 0.0, 1.0])
    i0 = np.floor(x).astype(int)
    i1 = np.minimum(i0 + 1, 2)
    frac = x - i0
    exp = np.clip(np.rint(
        (tab[i0] * (1 - frac) + tab[i1] * frac) * 255), 0, 255)
    assert (band == exp[None, :]).all()


def test_mesh_shading_and_ps_calculator_refuse_by_name():
    data = page([("axial", 0, 0, 10, 0, 0.0, 1.0, False)])
    mesh = data.replace(b"/ShadingType 2", b"/ShadingType 4")
    with pytest.raises(ValueError, match="ShadingType 2 .* 3"):
        render_pdf_pages(mesh)
    ps = data.replace(b"/FunctionType 2", b"/FunctionType 4")
    with pytest.raises(ValueError, match="FunctionType 4"):
        render_pdf_pages(ps)


def test_cs_scn_device_equivalent_colorspaces():
    """cs/scn paint through device-equivalent families: device names
    directly, /ICCBased via its /N alternate (the sanctioned
    fallback), /CalRGB; Pattern and 4-component ICC refuse by name;
    scn color comes from the operand count (1 = gray, 3 = RGB)."""
    raw = b"/DeviceGray cs 0.5 scn 100 100 50 20 re f"
    (out,) = render_pdf_pages(page([("raw", raw)]))
    assert out[792 - 110, 120] == 128
    # resource-resolved ICCBased (N=3) through a hand-built skeleton
    def icc_pdf(n_comps: int, ops: bytes) -> bytes:
        from mcp_ocr_server_spark.sources.synthetic import classic_pdf_bytes

        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 300 300]"
            b" /Resources << /ColorSpace << /CS0 5 0 R >> >>"
            b" /Contents 4 0 R >>",
            b"<< /Length " + str(len(ops)).encode()
            + b" >>\nstream\n" + ops + b"\nendstream",
            b"[/ICCBased 6 0 R]",
            b"<< /N " + str(n_comps).encode()
            + b" /Length 4 >>\nstream\nICCP\nendstream",
        ]
        return classic_pdf_bytes(objs)

    ops = b"/CS0 cs 1 0 0 scn 50 50 100 40 re f"
    (img,) = render_pdf_pages(icc_pdf(3, ops))
    assert img[300 - 70, 100] == 77  # pure-red BT.601 luma
    with pytest.raises(ValueError, match="4 components"):
        render_pdf_pages(icc_pdf(4, ops))
    with pytest.raises(ValueError, match="Pattern"):
        render_pdf_pages(page([("raw", b"/Pattern cs")]))
    with pytest.raises(ValueError, match="missing from /Resources"):
        render_pdf_pages(page([("raw", b"/CS9 cs 1 scn")]))
    with pytest.raises(ValueError, match="2-component"):
        render_pdf_pages(page([
            ("raw", b"/DeviceGray cs 0.5 0.5 scn")]))


def test_radial_nonuniform_scale_refuses():
    from mcp_ocr_server_spark.functions.pdfrender import (
        _Canvas, _Mat, _paint_shading)

    sh = (b"<< /ShadingType 3 /Coords [10 10 0 10 10 5]"
          b" /Function << /FunctionType 2 /C0 [0] /C1 [1] /N 1 >> >>")
    canvas = _Canvas((0.0, 0.0, 50.0, 50.0), 1.0)
    with pytest.raises(ValueError, match="non-uniform"):
        _paint_shading(canvas, sh, {}, _Mat(2.0, 1.0, 0.0, 0.0))


# --- ImageMask stencils + ExtGState benign subset ---------------------------

def test_inline_image_mask_paints_fill_through_clear_bits():
    """§8.9.6.2 default /Decode [0 1]: ZERO bits paint the current
    fill color; /D [1 0] inverts; set bits leave pixels untouched."""
    raw = (b"0.5 g q 8 0 0 1 100 100 cm BI /W 8 /H 1 /BPC 1 /IM true"
           b" ID " + bytes([0b10101010]) + b" EI Q")
    (out,) = render_pdf_pages(page([("raw", raw)]))
    assert out[792 - 101, 100:108].tolist() == [
        255, 128, 255, 128, 255, 128, 255, 128]
    raw2 = (b"0 g q 8 0 0 1 200 100 cm BI /W 8 /H 1 /BPC 1 /IM true"
            b" /D [1 0] ID " + bytes([0b10101010]) + b" EI Q")
    (o2,) = render_pdf_pages(page([("raw", raw2)]))
    assert o2[792 - 101, 200:208].tolist() == [
        0, 255, 0, 255, 0, 255, 0, 255]


def test_xobject_image_mask_stencil():
    mask = np.zeros((4, 8), bool)
    mask[:, ::2] = True  # True cells = painting bits (writer default)
    data = page([("raw", b"0 g"), ("stencil", mask, 100, 100, False)])
    (out,) = render_pdf_pages(data)
    reg = out[792 - 104:792 - 100, 100:108]
    assert (reg[:, ::2] == 0).all() and (reg[:, 1::2] == 255).all()
    # invert=True writes the complement bits + /Decode [1 0]: the
    # SAME cells must paint — proving the inversion decode path
    datai = page([("raw", b"0 g"), ("stencil", mask, 100, 100, True)])
    (oi,) = render_pdf_pages(datai)
    assert np.array_equal(oi, out)


def test_extgstate_applies_lw_and_dash():
    """gs with the benign subset: /LW sets the stroke width, /D the
    dash pattern — pinned by exact stroke geometry."""
    g = b"<< /Type /ExtGState /LW 4 >>"
    data = page([
        ("extg", g),
        ("raw", b"0 G 72 500 m 540 500 l S"),
    ])
    (out,) = render_pdf_pages(data)
    assert int((out < 255).sum()) == (540 - 72) * 4
    gd = b"<< /Type /ExtGState /LW 2 /D [[6 4] 0] >>"
    data = page([
        ("extg", gd),
        ("raw", b"0 G 100 500 m 200 500 l S"),
    ])
    (out,) = render_pdf_pages(data)
    assert int((out < 255).sum()) == 60 * 2


@pytest.mark.parametrize("body, msg", [
    (b"<< /SMask 9 0 R >>", "SMask"),
    (b"<< /BM /Multiply >>", "blend modes"),
    (b"<< /ca 0.5 >>", "transparency"),
    (b"<< /CA 0.25 >>", "transparency"),
    (b"<< /TR 9 0 R >>", "transfer functions"),
], ids=["smask", "blend", "ca", "CA", "transfer"])
def test_extgstate_refusals(body, msg):
    data = page([("extg", body)])
    with pytest.raises(ValueError, match=msg):
        render_pdf_pages(data)


def test_extgstate_smask_none_and_normal_bm_are_benign():
    g = b"<< /SMask /None /BM /Normal /CA 1 /ca 1.0 /LW 3 >>"
    data = page([("extg", g), ("raw", b"0 G 100 500 m 200 500 l S")])
    (out,) = render_pdf_pages(data)
    # width 3 rounds to a 3-px band: wd=3 -> half=1.5 around y=292.5
    assert int((out < 255).sum()) == 100 * 3
