"""Minimal deterministic PNG encoder/decoder (numpy + zlib, stdlib only).

Plays the role of the reference's `gocv.IMDecode` / `IMEncode(".png")`
seam (preprocessor.go:64-72, 114-121 — SURVEY.md §2.1 S3/S4): media
bytes travel through Spark as an encoded-image BinaryType column and
are decoded to uint8 arrays only inside pandas UDF batches.

Decodes the spec's full practical matrix: gray at depths 1/2/4/8,
palette (PLTE), RGB, gray+alpha / RGBA (opaque only), 16-bit samples
(high-byte fold — OpenCV imdecode's convert-down, the reference's
seam), all five scanline filters, and both interlace methods (none /
Adam7); real transparency refuses loudly.  Encodes 8-bit grayscale
(color type 0) and RGB (color type 2) with filter 0.
Pure function of the pixel array → byte-identical output for identical
input, which the content-hash memoization tests rely on
(cache.go:188-198 key determinism, cache_test.go:64-77).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """uint8 HxW (grayscale) or HxWx3 (RGB) → PNG bytes."""
    if img.dtype != np.uint8:
        raise ValueError(f"expected uint8 array, got {img.dtype}")
    if img.ndim == 2:
        color_type, channels = 0, 1
    elif img.ndim == 3 and img.shape[2] == 3:
        color_type, channels = 2, 3
    else:
        raise ValueError(f"expected HxW or HxWx3, got shape {img.shape}")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = img.reshape(h, w * channels)
    # filter byte 0 (None) prepended to each scanline
    scanlines = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), raw], axis=1
    ).tobytes()
    idat = zlib.compress(scanlines, level=6)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Undo the five scanline filters over one filtered sub-image
    (filter byte + stride bytes per row); bpp = filter distance in
    bytes (>= 1 even for sub-byte depths, per spec)."""
    if len(raw) != height * (stride + 1):
        raise ValueError("corrupt PNG: bad decompressed length")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters = rows[:, 0]
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        line = rows[y, 1:].astype(np.uint8).copy()
        f = filters[y]
        prev = out[y - 1] if y > 0 else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub
            for x in range(stride):
                left = out[y, x - bpp] if x >= bpp else 0
                out[y, x] = (int(line[x]) + int(left)) & 0xFF
        elif f == 2:  # Up
            out[y] = (line.astype(np.int16) + prev.astype(np.int16)).astype(np.uint8)
        elif f == 3:  # Average
            for x in range(stride):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                out[y, x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                left = int(out[y, x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                out[y, x] = (
                    int(line[x])
                    + int(
                        _paeth(
                            np.uint8(left), np.uint8(int(prev[x])), np.uint8(ul)
                        )
                    )
                ) & 0xFF
        else:
            raise ValueError(f"corrupt PNG: filter {f}")
    return out


def _expand_rows(rows: np.ndarray, width: int, channels: int,
                 depth: int) -> np.ndarray:
    """(h, stride) unfiltered bytes -> (h, width, channels) samples at
    8 bits.  Sub-byte gray/palette samples unpack MSB-first; gray
    scales to full 8-bit range (palette indices do NOT scale — the
    caller indexes the PLTE).  16-bit samples (network byte order)
    fold to their high byte — the same 16->8 convert-down OpenCV's
    imdecode applies, so the reference seam sees identical pixels."""
    h = rows.shape[0]
    if depth == 16:
        return rows[:, : width * channels * 2].reshape(
            h, width, channels, 2
        )[:, :, :, 0].copy()
    if depth == 8:
        return rows[:, : width * channels].reshape(h, width, channels)
    # depth in (1, 2, 4): single-channel only (spec: gray or palette)
    bits = np.unpackbits(rows, axis=1)
    samples = np.zeros((h, width), dtype=np.uint8)
    for b in range(depth):
        samples = (samples << 1) | bits[:, b::depth][:, :width]
    return samples.reshape(h, width, 1)


# Adam7 pass origins and strides: (x0, y0, dx, dy)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 HxW (gray) or HxWx3 (RGB) array.

    Covers the spec's practical matrix: gray at depths 1/2/4/8
    (scaled to 8-bit) and 16 (high-byte fold, the OpenCV imdecode
    convert-down), palette (PLTE) at 1/2/4/8, RGB at 8/16, gray+alpha
    and RGBA at 8/16 (alpha must be uniformly opaque — the OCR chain
    has no compositing semantics), both interlace methods (none /
    Adam7).  Non-opaque alpha raises ValueError — callers map that to
    PREPROCESSING_FAILED / UNSUPPORTED_FORMAT error rows (fail-soft,
    handler.go:271-275).
    """
    if len(data) < 8 or data[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    color_type = bit_depth = interlace = None
    palette = None
    trns = None
    exif = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            if len(payload) != 13:
                raise ValueError("corrupt PNG: IHDR length")
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
        elif tag == b"PLTE":
            if len(payload) % 3:
                raise ValueError("corrupt PNG: PLTE length")
            palette = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif tag == b"tRNS":
            trns = payload
        elif tag == b"eXIf":
            exif = payload  # bare EXIF TIFF structure (PNG 1.5)
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("not a PNG: missing IHDR")
    if width <= 0 or height <= 0:
        raise ValueError("corrupt PNG: bad dimensions")
    if color_type not in (0, 2, 3, 4, 6):
        raise ValueError(f"unsupported PNG: color type {color_type}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    if bit_depth == 16 and color_type == 3:
        raise ValueError("corrupt PNG: 16-bit palette is illegal")
    if bit_depth not in (8, 16) and (
        channels != 1 or bit_depth not in (1, 2, 4)
    ):
        raise ValueError(
            f"unsupported PNG: depth={bit_depth} color={color_type}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"unsupported PNG: interlace {interlace}")
    if color_type == 3:
        if palette is None:
            raise ValueError("corrupt PNG: palette image without PLTE")
        if trns is not None and any(a != 255 for a in trns):
            raise ValueError("unsupported PNG: transparent palette entry")
    bpp = max(1, channels * bit_depth // 8)  # filter distance, bytes

    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG: {exc}") from exc
    px = np.zeros((height, width, channels), dtype=np.uint8)
    if interlace == 0:
        stride = (width * channels * bit_depth + 7) // 8
        rows = _unfilter(raw, height, stride, bpp)
        px = _expand_rows(rows, width, channels, bit_depth)
    else:  # Adam7: seven independently-filtered sub-images
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            stride = (pw * channels * bit_depth + 7) // 8
            need = ph * (stride + 1)
            rows = _unfilter(raw[off : off + need], ph, stride, bpp)
            off += need
            sub = _expand_rows(rows, pw, channels, bit_depth)
            px[y0::dy, x0::dx] = sub
        if off != len(raw):
            raise ValueError("corrupt PNG: interlaced data length")

    if bit_depth < 8 and color_type == 0:
        # scale sub-byte gray to the full 8-bit range (spec 12.5)
        px = (px.astype(np.uint32) * 255 // ((1 << bit_depth) - 1)).astype(
            np.uint8
        )
    def _orient(img: np.ndarray) -> np.ndarray:
        # eXIf (PNG 1.5): the same advisory orientation JPEG carries
        if exif is None:
            return img
        from .codecs import apply_exif_orientation
        from .tiff import exif_blob_orientation

        o = exif_blob_orientation(exif)
        if o == 1:
            return img
        return np.ascontiguousarray(apply_exif_orientation(img, o))

    if color_type == 3:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("corrupt PNG: palette index out of range")
        rgb = palette[idx]
        if (rgb[:, :, 0] == rgb[:, :, 1]).all() and (
            rgb[:, :, 1] == rgb[:, :, 2]
        ).all():
            return _orient(rgb[:, :, 0].copy())
        return _orient(rgb)
    if color_type in (4, 6):
        if not (px[:, :, -1] == 255).all():
            raise ValueError(
                "unsupported PNG: non-opaque alpha (no compositing"
                " semantics in the OCR chain)"
            )
        px = px[:, :, :-1]
        channels -= 1
    if channels == 1:
        return _orient(px.reshape(height, width))
    return _orient(px.copy())
