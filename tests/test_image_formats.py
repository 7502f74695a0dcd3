"""BMP / PNM / TIFF codecs (imaging/bmp.py, pnm.py, tiff.py) — the
rest of the input-format matrix the reference inherits from OpenCV's
imdecode (preprocessor.go:64), plus the fleet-wide sniffing dispatch
in imaging/codecs.decode_image."""

import struct

import numpy as np
import pytest

from mcp_ocr_server_spark.imaging.bmp import decode_bmp, encode_bmp
from mcp_ocr_server_spark.imaging.codecs import decode_image
from mcp_ocr_server_spark.imaging.png import encode_png
from mcp_ocr_server_spark.imaging.pnm import decode_pnm, encode_pnm
from mcp_ocr_server_spark.imaging.tiff import (
    decode_tiff,
    decode_tiff_pages,
    encode_tiff,
    lzw_decode,
    lzw_encode,
    packbits_decode,
    packbits_encode,
)

RNG = np.random.default_rng(20260819)
GRAY = RNG.integers(0, 256, (37, 53), dtype=np.int64).astype(np.uint8)
RGB = RNG.integers(0, 256, (21, 33, 3), dtype=np.int64).astype(np.uint8)
BW = (GRAY > 127).astype(np.uint8) * 255


# --- PNM ---------------------------------------------------------------------


def test_pnm_raw_roundtrips():
    assert (decode_pnm(encode_pnm(GRAY)) == GRAY).all()
    assert (decode_pnm(encode_pnm(RGB)) == RGB).all()
    assert (decode_pnm(encode_pnm(BW, bitmap=True)) == BW).all()


def test_pnm_ascii_variants_and_comments():
    p2 = b"P2\n# a comment\n3 2\n255\n0 10 20 30 40 50\n"
    assert (decode_pnm(p2) == np.array([[0, 10, 20], [30, 40, 50]])).all()
    # P1: 1 = black per spec
    assert (decode_pnm(b"P1\n2 2\n0 1\n1 0\n")
            == np.array([[255, 0], [0, 255]])).all()
    assert (decode_pnm(b"P3\n1 1\n255\n1 2 3\n")
            == np.array([[[1, 2, 3]]])).all()


def test_pnm_maxval_rescale_and_16bit_fold():
    p5 = b"P5\n2 1\n100\n" + bytes([0, 100])
    assert (decode_pnm(p5) == np.array([[0, 255]])).all()
    # 16-bit (maxval > 255): big-endian pairs, round(v * 255 / maxval)
    # — the OpenCV imdecode convert-down
    wide = np.array([[0, 7 * 257, 65535]], ">u2")
    out = decode_pnm(b"P5\n3 1\n65535\n" + wide.tobytes())
    assert list(out[0]) == [0, 7, 255], out
    # P2 ASCII with a wide maxval scales the same way
    assert list(decode_pnm(b"P2\n2 1\n1000\n0 1000\n")[0]) == [0, 255]


def test_pnm_p4_row_padding():
    # width 10 => 2 bytes/row, 6 pad bits per row must be ignored
    img = np.zeros((3, 10), dtype=np.uint8)
    img[1, 3] = 255
    assert (decode_pnm(encode_pnm(img, bitmap=True)) == img).all()


def test_pnm_truncation_refusals():
    with pytest.raises(ValueError):
        decode_pnm(b"P5\n4 4\n255\n\x00\x00")  # short raster
    with pytest.raises(ValueError):
        decode_pnm(b"P7\n1 1\n255\n\x00")  # PAM missing ENDHDR
    with pytest.raises(ValueError):
        decode_pnm(b"P2\n2 2\n255\n1 2 3\n")  # short ASCII samples


# --- BMP ---------------------------------------------------------------------


def test_bmp_roundtrips():
    assert (decode_bmp(encode_bmp(GRAY)) == GRAY).all()
    assert (decode_bmp(encode_bmp(RGB)) == RGB).all()


def test_bmp_top_down_and_32bit():
    # hand-build a 2x2 top-down 32-bit BMP: rows in natural order
    px = np.array([[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]],
                  dtype=np.uint8)
    rows = b""
    for y in range(2):
        for x in range(2):
            r, g, b = px[y, x]
            rows += bytes([b, g, r, 0])  # BGRX
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 32, 0, len(rows),
                       2835, 2835, 0, 0)
    assert (decode_bmp(hdr + info + rows) == px).all()


def test_bmp_refusals():
    data = bytearray(encode_bmp(GRAY))
    struct.pack_into("<I", data, 30, 2)  # BI_RLE4
    with pytest.raises(ValueError, match="compression"):
        decode_bmp(bytes(data))
    with pytest.raises(ValueError, match="signature"):
        decode_bmp(b"XX" + bytes(60))


def _rle8_bmp(grid):
    """Hand-encode an RLE8 BMP (gray-ramp palette): encoded runs +
    literal singles, EOL after each bottom-up row, EOB at the end."""
    h, w = grid.shape
    stream = bytearray()
    for y in range(h - 1, -1, -1):
        row = grid[y]
        x = 0
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            stream += bytes([run, row[x]])
            x += run
        stream += b"\x00\x00"
    stream += b"\x00\x01"
    ramp = np.arange(256, dtype=np.uint8)
    pal = np.stack([ramp, ramp, ramp, np.zeros(256, np.uint8)], 1).tobytes()
    pix_off = 14 + 40 + len(pal)
    fh = struct.pack("<2sIHHI", b"BM", pix_off + len(stream), 0, 0, pix_off)
    ih = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(stream),
                     2835, 2835, 256, 0)
    return fh + ih + pal + bytes(stream)


def test_bmp_rle8():
    grid = (RNG.integers(0, 9, (13, 17), dtype=np.int64) * 28).astype(
        np.uint8
    )
    assert (decode_bmp(_rle8_bmp(grid)) == grid).all()


def test_bmp_rle8_delta_and_absolute():
    # delta escape skips pixels (left as palette index 0); absolute
    # run carries literal indices with word padding
    ramp = np.arange(256, dtype=np.uint8)
    pal = np.stack([ramp, ramp, ramp, np.zeros(256, np.uint8)], 1).tobytes()
    h, w = 4, 8
    stream = (b"\x03\x07"              # 3 px of index 7
              b"\x00\x02\x02\x01"      # delta dx=2 dy=1
              b"\x00\x03\x05\x06\x05\x00"  # absolute run of 3 + pad
              b"\x00\x00"              # EOL
              b"\x00\x01")             # EOB
    pix_off = 14 + 40 + len(pal)
    fh = struct.pack("<2sIHHI", b"BM", pix_off + len(stream), 0, 0, pix_off)
    ih = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(stream),
                     2835, 2835, 256, 0)
    out = decode_bmp(fh + ih + pal + stream)
    want = np.zeros((h, w), np.uint8)
    want[h - 1, 0:3] = 7             # stream row 0 = bottom image row
    want[h - 2, 5:8] = [5, 6, 5]     # after delta: x=3+2, y=1
    assert (out == want).all(), out


# --- TIFF: LZW / PackBits codecs ----------------------------------------------


def _pack_codes(codes, widths):
    """Independent MSB-first bit packer for the spec-pinned vector."""
    bits = "".join(format(c, f"0{w}b") for c, w in zip(codes, widths))
    bits += "0" * (-len(bits) % 8)
    return bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))


def test_lzw_spec_vector():
    # Hand-run of TIFF 6.0 §13's encoder algorithm on b"ABABAB":
    #   Clear, code(A)=65 [add AB=258], code(B)=66 [add BA=259],
    #   code(AB)=258 [add ABA=260], code(AB)=258, EOI — all 9-bit.
    expected = _pack_codes([256, 65, 66, 258, 258, 257], [9] * 6)
    assert lzw_encode(b"ABABAB") == expected
    assert lzw_decode(expected, 6) == b"ABABAB"


def test_lzw_roundtrip_stress():
    rng = np.random.default_rng(3)
    blobs = [
        b"",
        b"a",
        b"aaaaabbb",
        b"\x00" * 10000,
        bytes(range(256)) * 40,
        # > 4093 phrases: exercises table-full Clear/reset mid-stream
        bytes(rng.integers(0, 256, 120000, dtype=np.int64).astype(np.uint8)),
    ]
    for blob in blobs:
        assert lzw_decode(lzw_encode(blob), len(blob)) == blob
        assert packbits_decode(packbits_encode(blob), len(blob)) == blob


def test_packbits_spec_vector():
    # The TIFF 6.0 spec's own PackBits example (§9): the published
    # unpacked/packed pair, pinned in BOTH directions (encoders may
    # legally pack differently; ours happens to match the spec's
    # greedy packing on this input).
    unpacked = bytes.fromhex("AAAAAA80002AAAAAAAAA80002A22"
                             "AAAAAAAAAAAAAAAAAAAA")
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    assert packbits_decode(packed, len(unpacked)) == unpacked
    assert packbits_encode(unpacked) == packed


# --- TIFF container ------------------------------------------------------------


@pytest.mark.parametrize("comp", ["none", "packbits", "lzw", "deflate"])
def test_tiff_roundtrip_all_compressions(comp):
    assert (decode_tiff(encode_tiff([GRAY], comp)) == GRAY).all()
    assert (decode_tiff(encode_tiff([RGB], comp)) == RGB).all()


@pytest.mark.parametrize("comp", ["lzw", "deflate"])
def test_tiff_predictor(comp):
    assert (decode_tiff(encode_tiff([GRAY], comp, predictor=True))
            == GRAY).all()
    assert (decode_tiff(encode_tiff([RGB], comp, predictor=True))
            == RGB).all()


def test_tiff_multipage_and_bilevel():
    pages = decode_tiff_pages(encode_tiff([GRAY, RGB, BW], "lzw"))
    assert len(pages) == 3
    for got, want in zip(pages, [GRAY, RGB, BW]):
        assert (got == want).all()
    assert (decode_tiff(encode_tiff([BW], "packbits", bilevel=True))
            == BW).all()


def test_tiff_big_endian_uncompressed():
    # hand-build an MM-order 2x2 gray8 single-strip TIFF
    px = bytes([10, 20, 30, 40])
    entries = [
        (256, 3, 1, 2 << 16),   # width (SHORT left-justified in BE)
        (257, 3, 1, 2 << 16),
        (258, 3, 1, 8 << 16),
        (259, 3, 1, 1 << 16),
        (262, 3, 1, 1 << 16),
        (273, 4, 1, 8),         # strip at byte 8
        (277, 3, 1, 1 << 16),
        (278, 3, 1, 2 << 16),
        (279, 4, 1, 4),
    ]
    ifd = struct.pack(">H", len(entries)) + b"".join(
        struct.pack(">HHII", *ent) for ent in entries
    ) + struct.pack(">I", 0)
    data = b"MM\x00*" + struct.pack(">I", 12) + px + ifd
    assert (decode_tiff(data) == np.array([[10, 20], [30, 40]])).all()


def test_tiff_refusals():
    blob = encode_tiff([GRAY], "none")
    with pytest.raises(ValueError, match="BigTIFF"):
        decode_tiff(b"II+\x00" + blob[4:])
    with pytest.raises(ValueError, match="byte-order"):
        decode_tiff(b"XX" + blob[2:])
    # tiled: inject a TileWidth tag by encoding then rewriting
    # compression id to JPEG (6) — cheaper: build via the entry table
    data = bytearray(blob)
    # compression tag value lives in the IFD; find tag 259 entry
    (ifd_off,) = struct.unpack_from("<I", data, 4)
    (n,) = struct.unpack_from("<H", data, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag = struct.unpack_from("<H", data, base)[0]
        if tag == 259:
            struct.pack_into("<H", data, base + 8, 6)
    with pytest.raises(ValueError, match="old-style JPEG"):
        decode_tiff(bytes(data))


# --- sniffing dispatch ---------------------------------------------------------


def test_decode_image_sniffs_all_formats():
    from mcp_ocr_server_spark.imaging.webp import encode_webp

    for blob, want in [
        (encode_png(GRAY), GRAY),
        (encode_bmp(GRAY), GRAY),
        (encode_pnm(GRAY), GRAY),
        (encode_pnm(RGB), RGB),
        (encode_pnm(BW, bitmap=True), BW),
        (encode_tiff([GRAY], "lzw"), GRAY),
        (encode_tiff([RGB], "deflate", predictor=True), RGB),
        (encode_webp(GRAY), GRAY),
        (encode_webp(RGB), RGB),
    ]:
        got = decode_image(blob)
        assert (got == want).all()
    from mcp_ocr_server_spark.imaging.gif import encode_gif
    from mcp_ocr_server_spark.imaging.ico import encode_ico, encode_ico_bmp

    small = GRAY[:32, :48]
    rgb4 = (RGB // 64) * 64  # exact-palette encoder: <= 256 colors
    for blob, want in [
        (encode_gif(GRAY), GRAY),
        (encode_gif(rgb4), rgb4),
        (encode_ico(small), small),
        (encode_ico_bmp(small), small),
    ]:
        assert (decode_image(blob) == want).all()
    with pytest.raises(ValueError):
        decode_image(b"\x00\x01\x02\x03 not an image")


# --- exception-contract fuzz -----------------------------------------------
# Property: for arbitrary (and truncated-valid) bytes, decode_image
# either returns a well-formed uint8 array or raises ValueError —
# never struct.error / IndexError / OverflowError / zlib.error /
# infinite loop (the exception-contract class the audio sniffers pin
# the same way).

from hypothesis import example, given, settings
from hypothesis import strategies as st

from mcp_ocr_server_spark.imaging.webp import encode_webp


def _contract(payload: bytes) -> None:
    try:
        out = decode_image(payload)
    except ValueError:
        return
    assert out.dtype == np.uint8 and out.ndim in (2, 3)


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_decode_image_exception_contract_fuzz(data):
    _contract(data)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_decode_image_fuzz_magic_prefixed(data):
    # force each sniffer branch so the fuzz reaches the parsers
    for magic in (b"BM", b"P5\n", b"P6\n", b"P4\n", b"II*\x00",
                  b"MM\x00*", b"RIFF\x20\x00\x00\x00WEBPVP8L",
                  b"\xff\xd8\xff", b"GIF89a", b"\x00\x00\x01\x00"):
        _contract(magic + data)


@settings(max_examples=90, deadline=None)
@given(st.integers(min_value=0, max_value=10_000), st.integers(0, 8))
@example(cut=16, which=4)  # PNG cut inside IHDR: struct.error once
def test_decode_image_truncation_fuzz(cut, which):
    # truncations of VALID streams — the parsers must refuse loudly,
    # not wander: exercises mid-structure EOF in every container
    from mcp_ocr_server_spark.imaging.gif import encode_gif
    from mcp_ocr_server_spark.imaging.ico import encode_ico
    from mcp_ocr_server_spark.imaging.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    img = GRAY[:16, :24]
    blob = [
        encode_tiff([img], "lzw"),
        encode_bmp(img),
        encode_pnm(img),
        encode_webp(img),
        encode_png(img),
        encode_jpeg(img, 90),
        encode_jpeg_progressive(img, 90),
        encode_gif(img),
        encode_ico(img),
    ][which]
    _contract(blob[: min(cut, max(0, len(blob) - 1))])


@pytest.mark.parametrize("progressive", [False, True])
def test_decode_image_jpeg_point_mutations(progressive):
    # one byte of a valid JPEG set to a seeded value: reaches every
    # segment parser and the entropy decoder, which once leaked
    # IndexError / struct.error / OverflowError past the contract
    from mcp_ocr_server_spark.imaging.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
    )

    enc = encode_jpeg_progressive if progressive else encode_jpeg
    blob = enc(GRAY[:24, :32], 90)
    rng = np.random.default_rng(20261019)
    for at, value in zip(rng.integers(0, len(blob), 300),
                         rng.integers(0, 256, 300)):
        mutated = bytearray(blob)
        mutated[at] = value
        _contract(bytes(mutated))


@pytest.mark.parametrize("restart_interval", [0, 1, 5, 100])
def test_jpeg_frame_taller_than_its_scan_refuses(restart_interval):
    # the SOF height high byte set to 176 claims 45,080 rows over a
    # scan that codes 24: the decoder must not zero-fill the rest
    import time

    from mcp_ocr_server_spark.imaging.jpeg import decode_jpeg, encode_jpeg

    blob = bytearray(encode_jpeg(GRAY[:24, :32], 90,
                                 restart_interval=restart_interval))
    assert blob[89:91] == b"\xff\xc0" and blob[94:96] == b"\x00\x18"
    blob[94] = 176
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="scan data ends|restart marker"):
        decode_jpeg(bytes(blob))
    assert time.perf_counter() - t0 < 0.5


# --- tiled TIFF ----------------------------------------------------------------


@pytest.mark.parametrize("comp", ["none", "packbits", "lzw", "deflate"])
def test_tiff_tiled_roundtrip(comp):
    big = RNG.integers(0, 256, (70, 100), dtype=np.int64).astype(np.uint8)
    for img in (GRAY, RGB, big):
        assert (decode_tiff(encode_tiff([img], comp, tiled=True))
                == img).all(), (comp, img.shape)


def test_tiff_tiled_predictor_bilevel_and_exact_multiple():
    assert (decode_tiff(
        encode_tiff([GRAY], "lzw", tiled=True, predictor=True)) == GRAY
    ).all()
    assert (decode_tiff(
        encode_tiff([RGB], "deflate", tiled=True, predictor=True)) == RGB
    ).all()
    assert (decode_tiff(
        encode_tiff([BW], "packbits", tiled=True, bilevel=True)) == BW
    ).all()
    m32 = RNG.integers(0, 256, (64, 96), dtype=np.int64).astype(np.uint8)
    assert (decode_tiff(encode_tiff([m32], "lzw", tiled=True)) == m32).all()


# --- JPEG-in-TIFF (compression 7) ---------------------------------------------


def _grad_gray(h, w):
    y, x = np.mgrid[0:h, 0:w]
    return np.clip(x * 2 + y * 2, 0, 255).astype(np.uint8)


@pytest.mark.parametrize("tiled", [False, True], ids=["strips", "tiles"])
def test_tiff_jpeg_compression_roundtrip(tiled):
    gray = _grad_gray(45, 61)
    rgb = np.stack([gray, gray[::-1], gray[:, ::-1]], axis=-1)
    for img in (gray, rgb):
        out = decode_tiff(encode_tiff([img], "jpeg", tiled=tiled))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 12


def test_tiff_jpeg_tables_splice():
    """The TIFF/EP shared-tables layout: DQT/DHT live once in the
    JPEGTables tag (an abbreviated SOI..EOI stream) and each strip is
    a table-less JPEG — the decoder must splice tables after the
    strip's SOI."""
    from mcp_ocr_server_spark.imaging.jpeg import encode_jpeg

    img = _grad_gray(16, 40)
    blob = encode_jpeg(img, 95)
    # split the JPEG into table segments (DQT/DHT) and the rest
    tables, rest = bytearray(b"\xff\xd8"), bytearray(b"\xff\xd8")
    pos = 2
    while pos + 4 <= len(blob):
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        seglen = struct.unpack(">H", blob[pos + 2 : pos + 4])[0]
        seg = blob[pos : pos + 2 + seglen]
        (tables if marker in (0xDB, 0xC4) else rest).extend(seg)
        pos += 2 + seglen
        if marker == 0xDA:  # entropy data runs to EOI
            rest.extend(blob[pos:])
            break
    tables.extend(b"\xff\xd9")
    assert b"\xff\xdb" in tables and b"\xff\xc4" in tables
    assert b"\xff\xdb" not in rest[2:] and b"\xff\xc4" not in bytes(rest[2:])

    # hand-build a single-strip little-endian TIFF with tag 347
    strip = bytes(rest)
    tbl = bytes(tables)
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    strip_off = len(out)
    out += strip
    if len(out) % 2:
        out += b"\x00"
    tbl_off = len(out)
    out += tbl
    if len(out) % 2:
        out += b"\x00"
    entries = [
        (256, 4, 1, 40), (257, 4, 1, 16), (258, 3, 1, 8),
        (259, 3, 1, 7), (262, 3, 1, 1),
        (273, 4, 1, strip_off), (277, 3, 1, 1), (278, 3, 1, 16),
        (279, 4, 1, len(strip)), (347, 7, len(tbl), tbl_off),
    ]
    ifd_off = len(out)
    out += struct.pack("<H", len(entries))
    for tag, typ, cnt, val in sorted(entries):
        out += struct.pack("<HHII", tag, typ, cnt, val)
    out += b"\x00\x00\x00\x00"
    struct.pack_into("<I", out, 4, ifd_off)

    got = decode_tiff(bytes(out))
    want = decode_image(blob)
    assert (got == want).all()


def test_tiff_old_style_jpeg_refused():
    blob = bytearray(encode_tiff([GRAY], "none"))
    (ifd_off,) = struct.unpack_from("<I", blob, 4)
    (n,) = struct.unpack_from("<H", blob, ifd_off)
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        if struct.unpack_from("<H", blob, base)[0] == 259:
            struct.pack_into("<H", blob, base + 8, 6)
    with pytest.raises(ValueError, match="old-style"):
        decode_tiff(bytes(blob))


# --- PAM (P7) -------------------------------------------------------------------


def test_pam_gray_and_rgb():
    hdr = b"P7\nWIDTH 3\nHEIGHT 2\nDEPTH 1\nMAXVAL 255\nTUPLTYPE GRAYSCALE\nENDHDR\n"
    px = bytes([1, 2, 3, 4, 5, 6])
    out = decode_image(hdr + px)
    assert (out == np.array([[1, 2, 3], [4, 5, 6]])).all()
    hdr3 = b"P7\nWIDTH 2\nHEIGHT 1\nDEPTH 3\nMAXVAL 255\nTUPLTYPE RGB\nENDHDR\n"
    out3 = decode_image(hdr3 + bytes([1, 2, 3, 4, 5, 6]))
    assert (out3 == np.array([[[1, 2, 3], [4, 5, 6]]])).all()


def test_pam_alpha_and_refusals():
    hdr = (b"P7\nWIDTH 1\nHEIGHT 1\nDEPTH 4\nMAXVAL 255\n"
           b"TUPLTYPE RGB_ALPHA\nENDHDR\n")
    assert (decode_image(hdr + bytes([9, 8, 7, 255]))
            == np.array([[[9, 8, 7]]])).all()
    with pytest.raises(ValueError, match="alpha"):
        decode_image(hdr + bytes([9, 8, 7, 128]))
    # 16-bit PAM folds (big-endian pairs)
    wide = decode_image(
        b"P7\nWIDTH 2\nHEIGHT 1\nDEPTH 1\nMAXVAL 65535\nENDHDR\n"
        + np.array([0, 65535], ">u2").tobytes()
    )
    assert list(wide[0]) == [0, 255]
    with pytest.raises(ValueError, match="ENDHDR"):
        decode_image(b"P7\nWIDTH 1\n")


def test_pam_maxval_rescale():
    hdr = b"P7\nWIDTH 2\nHEIGHT 1\nDEPTH 1\nMAXVAL 100\nENDHDR\n"
    assert list(decode_image(hdr + bytes([0, 100]))[0]) == [0, 255]


def test_tiff_16bit_high_byte_fold_both_endians():
    """16-bit TIFF samples fold to their high byte per the FILE byte
    order (OpenCV imdecode's convert-down)."""
    px16 = np.array([[0x1234, 0xFF00], [0x0080, 0xABCD]], np.uint16)
    want = (px16 >> 8).astype(np.uint8)
    entries = [
        (256, 4, 1, 2), (257, 4, 1, 2), (258, 3, 1, 16), (259, 3, 1, 1),
        (262, 3, 1, 1), (273, 4, 1, 8), (277, 3, 1, 1), (278, 3, 1, 2),
        (279, 4, 1, 8),
    ]
    raw_le = px16.astype("<u2").tobytes()
    ifd = struct.pack("<H", len(entries)) + b"".join(
        struct.pack("<HHII", *ent) for ent in sorted(entries)
    ) + b"\x00\x00\x00\x00"
    data = b"II*\x00" + struct.pack("<I", 8 + len(raw_le)) + raw_le + ifd
    assert (decode_tiff(data) == want).all()
    raw_be = px16.astype(">u2").tobytes()
    ifd_be = struct.pack(">H", len(entries)) + b"".join(
        struct.pack(">HHII", t, ty, c, (v << 16) if ty == 3 else v)
        for t, ty, c, v in sorted(entries)
    ) + b"\x00\x00\x00\x00"
    data_be = b"MM\x00*" + struct.pack(">I", 8 + len(raw_be)) + raw_be + ifd_be
    assert (decode_tiff(data_be) == want).all()


def test_tiff_orientation_tag_rights_pages():
    """TIFF 6.0 Orientation (tag 274) shares EXIF's eight values:
    stored-rotated pages decode upright, losslessly (no JPEG in the
    loop), for every non-trivial orientation."""
    from mcp_ocr_server_spark.imaging.codecs import (
        apply_exif_orientation)
    from mcp_ocr_server_spark.imaging.tiff import (
        decode_tiff, encode_tiff)

    upright = (np.arange(24).reshape(4, 6) * 10).astype(np.uint8)
    inv = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}
    for o in range(1, 9):
        stored = np.ascontiguousarray(
            apply_exif_orientation(upright, inv[o]))
        blob = encode_tiff([stored], "lzw", orientation=o)
        assert np.array_equal(decode_tiff(blob), upright), o
