"""REAL PDF text extraction — stdlib only (zlib is the FlateDecode
codec), the document analogue of imaging/png.py and decode_wav.

The north rule names "PDF/layout parse" as a pipeline capability; this
module implements the text half for real: PDF object parsing, Flate
stream decompression, page-tree walk, and a content-stream text-operator
interpreter (BT/ET, Tf, Td/TD/Tm/T*, Tj/'/"/TJ with literal, escaped,
octal, and hex strings).

Documented scope (honest limits, stated where a user hits them):
  - text-based PDFs whose strings use single-byte encodings (the
    standard fonts / WinAnsi / latin-1 family), AND Type0/CID fonts
    that carry a /ToUnicode CMap (§9.10.3 — how essentially every
    modern generator writes PDFs): glyph-id strings decode through the
    per-font bfchar/bfrange table, with unmapped codes surfacing as
    U+FFFD.  Only bare Type0 WITHOUT /ToUnicode stays garbled — there
    is genuinely no way to recover it without the font program's
    tables; callers get the raw bytes (same behavior as
    `strings`-style extractors).
  - unencrypted documents (an /Encrypt entry — in the classic trailer
    or in a 1.5+ /XRef stream dict — raises ValueError).
  - classic-xref (PDF <= 1.4) AND 1.5+ compressed-object layouts: the
    objects hidden inside Flate /ObjStm payloads are expanded into the
    object table (ISO 32000-1 §7.5.7), and for trailer-less files the
    /XRef stream's dict is treated as the trailer.  The /XRef offset
    table itself is never decoded — the sequential scan plus ObjStm
    expansion reaches every object without it.  ObjStm payloads with
    /DecodeParms predictors refuse loudly (an /XRef-stream idiom,
    rare on ObjStm).
  - stream payload extents come from the dict's direct /Length when it
    is present and consistent (so payloads containing 'endstream'
    bytes parse correctly); indirect or wrong /Length falls back to
    the first endstream marker.
  - page rasters for SCANNED PDFs are real too (extract_pdf_page_rasters
    below — the page raster is the embedded image XObject, no renderer
    involved); COMPOSITING pages (text-over-image, multi-image, rect
    fills, invisible OCR layers) rasterize through the content-stream
    renderer in functions/pdfrender.py, which _ocr_pdf_rasters falls
    back to; only constructs outside the renderer scope (rotation,
    curves, strokes, real font programs) still refuse by name.

A deterministic test writer (make_pdf) lives in tests/test_pdf.py so
round-trips never depend on external fixtures.
"""

from __future__ import annotations

import re
import zlib
from typing import Iterator, NamedTuple

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.rows import map_rows

PDF_TEXT_SCHEMA = "media_ref string, n_pages int, text string, error string"

_OBJ_START_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")
_STREAM_END_RE = re.compile(rb"(?:\r?\n)?endstream")
# direct-integer /Length only — "/Length 12 0 R" (indirect) must NOT
# match.  The (?!\d) makes the captured digits effectively atomic:
# without it the engine backtracks (\d+) to a PREFIX of an indirect
# length ('/Length 12 0 R' matched '1') so the indirect-ref lookahead
# checked the wrong position (round-4 review, repro'd live).
_LEN_DIRECT_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")

# content-stream tokens other than literal strings: hex string, array
# delimiters, numbers, names, operators.  Literal strings need balance
# counting (PDF allows UNESCAPED nested parens), so _tokens() scans
# them by hand and uses this regex for everything else.
_TOK_RE = re.compile(
    rb"<[0-9A-Fa-f\s]*>"           # hex string
    rb"|<<|>>|\[|\]"               # dict/array delimiters
    rb"|/[^\s/<>\[\]()]*"          # name
    rb"|[-+]?[0-9]*\.?[0-9]+"      # number
    rb"|[A-Za-z'\"][A-Za-z0-9*'\"]*",  # operator
    re.S,
)


def _tokens(content: bytes) -> Iterator[bytes]:
    """Token stream of a content stream.  Literal strings are scanned
    with a depth counter so legal nested parens — '(see (fig 2))' —
    stay ONE token; everything else matches _TOK_RE."""
    i, n = 0, len(content)
    while i < n:
        c = content[i : i + 1]
        if c == b"(":
            depth, j = 1, i + 1
            while j < n and depth:
                ch = content[j : j + 1]
                if ch == b"\\":
                    j += 2
                    continue
                if ch == b"(":
                    depth += 1
                elif ch == b")":
                    depth -= 1
                j += 1
            yield content[i:j]
            i = j
            continue
        m = _TOK_RE.match(content, i)
        if m:
            yield m.group(0)
            i = m.end()
        else:
            i += 1  # whitespace / bytes outside the token grammar

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _decode_literal(tok: bytes) -> bytes:
    """PDF literal string body (between parens) with \\-escapes and
    \\ddd octal codes resolved."""
    body = tok[1:-1]
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i : i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = body[i + 1 : i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt in (b"0", b"1", b"2", b"3", b"4", b"5", b"6", b"7"):
            # octal escape: 1-3 OCTAL digits only — \8 and \9 are not
            # octal (the spec drops the backslash before other chars)
            j = i + 1
            while (
                j < len(body) and j < i + 4
                and body[j] in b"01234567"
            ):
                j += 1
            out.append(int(body[i + 1 : j], 8) & 0xFF)
            i = j
        elif nxt in (b"\n", b"\r"):  # line continuation
            i += 2
            if nxt == b"\r" and body[i : i + 1] == b"\n":
                i += 1
        else:
            out += nxt
            i += 2
    return bytes(out)


def _decode_hex(tok: bytes) -> bytes:
    h = re.sub(rb"\s", b"", tok[1:-1])
    if len(h) % 2:
        h += b"0"  # PDF spec: odd-length hex strings pad with 0
    return bytes.fromhex(h.decode("ascii"))


def _string_bytes(tok: bytes) -> bytes:
    return _decode_literal(tok) if tok[:1] == b"(" else _decode_hex(tok)


class _Obj(NamedTuple):
    body: bytes  # the dict/head part — stream payload bytes excluded
    stream: bytes | None  # raw (pre-filter) stream payload, if any


def _objects(data: bytes) -> dict[int, _Obj]:
    """obj number -> (head, stream payload) via a SEQUENTIAL scan.

    Stream payloads are sliced by the dict's direct /Length when present
    and validated (the slice must be followed by optional EOL then
    'endstream'); only when /Length is absent, indirect, or wrong does
    the scan fall back to the first 'endstream' byte sequence.  This is
    what makes Flate payloads that happen to CONTAIN 'endstream' or
    'endobj' parse correctly — a split-on-endobj regex cannot.
    Generation numbers are ignored (simple one-shot files)."""
    objs: dict[int, _Obj] = {}
    pos = 0
    while True:
        m = _OBJ_START_RE.search(data, pos)
        if m is None:
            return objs
        num = int(m.group(1))
        start = m.end()
        sm = _STREAM_START_RE.search(data, start)
        eo = data.find(b"endobj", start)
        if sm is None or (eo != -1 and eo < sm.start()):
            # plain (non-stream) object
            body = data[start:] if eo == -1 else data[start:eo]
            objs[num] = _Obj(body, None)
            if eo == -1:
                return objs
            pos = eo + len(b"endobj")
            continue
        head = data[start : sm.start()]
        payload_at = sm.end()
        payload: bytes | None = None
        es_end = len(data)
        lm = _LEN_DIRECT_RE.search(head)
        if lm is not None:
            cand_end = payload_at + int(lm.group(1))
            tm = re.match(
                rb"(?:\r?\n)?endstream", data[cand_end : cand_end + 11]
            )
            if tm is not None:
                payload = data[payload_at:cand_end]
                es_end = cand_end + tm.end()
        if payload is None:  # /Length absent, indirect, or inconsistent
            em = _STREAM_END_RE.search(data, payload_at)
            if em is None:
                payload = data[payload_at:]
            else:
                payload = data[payload_at : em.start()]
                es_end = em.end()
        objs[num] = _Obj(head, payload)
        eo = data.find(b"endobj", es_end)
        if eo == -1:
            return objs
        pos = eo + len(b"endobj")


# --- stream filters (ISO 32000-1 §7.4) --------------------------------------
# The decodable set: FlateDecode, LZWDecode (the TIFF bitstream dialect
# already in imaging/tiff.py), ASCII85Decode, ASCIIHexDecode,
# RunLengthDecode, applied as a CHAIN in /Filter array order, with
# /DecodeParms PNG predictors (the /XRef-stream idiom) and TIFF
# horizontal differencing undone after Flate/LZW.  DCTDecode is an
# IMAGE payload, handled by _decode_image_xobject; in a content-stream
# position it refuses by name, as do the codec filters we cannot
# re-derive here (CCITTFax/JBIG2/JPX) and /Crypt.

_FILTER_ABBREV = {
    b"/Fl": b"/FlateDecode",
    b"/LZW": b"/LZWDecode",
    b"/A85": b"/ASCII85Decode",
    b"/AHx": b"/ASCIIHexDecode",
    b"/RL": b"/RunLengthDecode",
    b"/DCT": b"/DCTDecode",
    b"/CCF": b"/CCITTFaxDecode",
}


def _parse_filters(body: bytes) -> list[bytes]:
    """The /Filter entry as a normalized name list ([] = unfiltered).
    An indirect /Filter (`n 0 R`, or inside the array) refuses: read as
    unfiltered, its compressed bytes would pass for decoded data."""
    fm = re.search(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+|\d+\s+\d+\s+R)",
                   body)
    if fm is None:
        return []
    if re.search(rb"\d+\s+\d+\s+R", fm.group(1)):
        raise ValueError("indirect /Filter reference unsupported")
    names = re.findall(rb"/[A-Za-z0-9]+", fm.group(1))
    return [_FILTER_ABBREV.get(n, n) for n in names]


def _dict_span(body: bytes, start: int) -> tuple[bytes, int] | None:
    """(inner bytes, end offset just past `>>`) of the balanced
    `<< … >>` dict beginning at/after `start`."""
    m = re.compile(rb"<<").search(body, start)
    if m is None:
        return None
    depth, pos = 1, m.end()
    while depth and pos < len(body):
        nxt_open = body.find(b"<<", pos)
        nxt_close = body.find(b">>", pos)
        if nxt_close == -1:
            return None
        if nxt_open != -1 and nxt_open < nxt_close:
            depth, pos = depth + 1, nxt_open + 2
        else:
            depth, pos = depth - 1, nxt_close + 2
    return (body[m.end() : pos - 2], pos) if depth == 0 else None


def _parse_decode_parms(body: bytes, n: int) -> list[bytes | None]:
    """/DecodeParms (or /DP) aligned with the n-entry filter chain:
    a bare dict applies to the first filter, an array aligns per
    position with `null` holes, absent = all None."""
    m = re.search(rb"/(?:DecodeParms|DP)\b\s*", body)
    if m is None:
        return [None] * n
    pos = m.end()
    if body[pos : pos + 1] == b"[":
        items: list[bytes | None] = []
        p = pos + 1
        while p < len(body) and len(items) < n:
            while p < len(body) and body[p : p + 1] in b" \t\r\n":
                p += 1
            if body[p : p + 1] == b"]":
                break
            if body[p : p + 2] == b"<<":
                span = _dict_span(body, p)
                if span is None:
                    raise ValueError("/DecodeParms: unbalanced dict")
                items.append(span[0])
                p = span[1]
            elif body[p : p + 4] == b"null":
                items.append(None)
                p += 4
            else:
                raise ValueError("/DecodeParms: unsupported array entry")
        items += [None] * (n - len(items))
        return items
    span = _dict_span(body, pos)
    if span is None:
        raise ValueError("/DecodeParms: expected dict or array")
    return [span[0]] + [None] * (n - 1)


def _a85_decode(data: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): whitespace-tolerant, `z` groups, `~>`
    EOD — stdlib a85decode does the arithmetic."""
    import base64

    end = data.find(b"~>")
    payload = data[:end] if end != -1 else data
    try:
        return base64.a85decode(b"<~" + payload + b"~>", adobe=True)
    except ValueError as exc:
        raise ValueError(f"ASCII85Decode: {exc}") from None


def _ahx_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (§7.4.2): up to `>`, odd final digit pads 0."""
    end = data.find(b">")
    payload = re.sub(rb"\s+", b"", data[: end if end != -1 else len(data)])
    if len(payload) % 2:
        payload += b"0"
    try:
        return bytes.fromhex(payload.decode("ascii"))
    except (ValueError, UnicodeDecodeError):
        raise ValueError("ASCIIHexDecode: bad hex data") from None


def _rl_decode_span(data: bytes) -> tuple[bytes, int, bool]:
    """RunLengthDecode walk (§7.4.5): (decoded, consumed, saw_eod).
    Length byte 0-127 = copy n+1 literal bytes, 129-255 = repeat next
    byte 257-n times, 128 = EOD."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = data[pos]
        pos += 1
        if n == 128:
            return bytes(out), pos, True
        if n < 128:
            chunk = data[pos : pos + n + 1]
            if len(chunk) < n + 1:
                raise ValueError("RunLengthDecode: truncated literal run")
            out += chunk
            pos += n + 1
        else:
            if pos >= len(data):
                raise ValueError("RunLengthDecode: truncated repeat run")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
    return bytes(out), pos, False


def _rl_decode(data: bytes) -> bytes:
    # tolerate missing EOD at exact end (stream /Length bounds it)
    return _rl_decode_span(data)[0]


def _parm_int(parms: bytes | None, key: bytes, default: int) -> int:
    if parms is None:
        return default
    m = re.search(rb"/" + key + rb"\s+(-?\d+)", parms)
    return int(m.group(1)) if m else default


def _undo_predictor_bytes(data: bytes, parms: bytes | None) -> bytes:
    """Undo a /Predictor post-filter (§7.4.4.4): 2 = TIFF horizontal
    differencing (8-bit only), 10-15 = the PNG per-row filter set
    (each row: tag byte + filtered bytes; Sub/Up/Average/Paeth undone
    against the reconstructed prior row).  Predictor 1/absent is the
    identity."""
    pred = _parm_int(parms, b"Predictor", 1)
    if pred <= 1:
        return data
    colors = _parm_int(parms, b"Colors", 1)
    bpc = _parm_int(parms, b"BitsPerComponent", 8)
    columns = _parm_int(parms, b"Columns", 1)
    if colors < 1 or columns < 1 or bpc not in (1, 2, 4, 8):
        raise ValueError("/Predictor: parameter out of range")
    rowlen = (colors * bpc * columns + 7) // 8
    if pred == 2:
        if bpc != 8:
            raise ValueError(
                "/Predictor 2 (TIFF) supports 8-bit samples only"
            )
        if len(data) % rowlen:
            raise ValueError("/Predictor 2: data not a whole row count")
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for i in range(r + colors, r + rowlen):
                out[i] = (out[i] + out[i - colors]) & 0xFF
        return bytes(out)
    if not 10 <= pred <= 15:
        raise ValueError(f"/Predictor {pred} unsupported")
    bpp = max(1, (colors * bpc + 7) // 8)
    stride = rowlen + 1
    if len(data) % stride:
        raise ValueError("PNG predictor: data not a whole row count")
    out = bytearray()
    prior = bytearray(rowlen)
    for r in range(0, len(data), stride):
        tag = data[r]
        row = bytearray(data[r + 1 : r + stride])
        if tag == 0:
            pass
        elif tag == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prior[i]) & 0xFF
        elif tag == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif tag == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = prior[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[i] = (row[i] + pr) & 0xFF
        else:
            raise ValueError(f"PNG predictor: bad row tag {tag}")
        out += row
        prior = row
    return bytes(out)


def _apply_filter_list(
    raw: bytes, filters: list[bytes], parms: list[bytes | None]
) -> bytes:
    """Run the decodable filter chain in order; anything outside the
    set refuses by name (never feeds compressed bytes downstream as
    'decoded' data)."""
    data = raw
    for f, p in zip(filters, parms):
        if f == b"/FlateDecode":
            try:
                data = zlib.decompress(data)
            except zlib.error as exc:
                raise ValueError(f"FlateDecode: {exc}") from None
            data = _undo_predictor_bytes(data, p)
        elif f == b"/LZWDecode":
            if _parm_int(p, b"EarlyChange", 1) != 1:
                raise ValueError("LZWDecode: /EarlyChange 0 unsupported")
            from ..imaging.tiff import lzw_decode

            data = _undo_predictor_bytes(lzw_decode(data), p)
        elif f == b"/ASCII85Decode":
            data = _a85_decode(data)
        elif f == b"/ASCIIHexDecode":
            data = _ahx_decode(data)
        elif f == b"/RunLengthDecode":
            data = _rl_decode(data)
        else:
            raise ValueError(
                f"unsupported stream filter {f.decode('latin-1', 'replace')}:"
                " Flate/LZW/A85/AHx/RL chains are in scope"
            )
    return data


def _stream_of(obj: _Obj | None) -> bytes | None:
    if obj is None or obj.stream is None:
        return None
    filters = _parse_filters(obj.body)
    if not filters:
        return obj.stream
    return _apply_filter_list(
        obj.stream, filters, _parse_decode_parms(obj.body, len(filters))
    )


def _expand_objstms(objs: dict[int, _Obj]) -> None:
    """Inline the objects stored inside /ObjStm streams (PDF 1.5+
    compressed object storage, ISO 32000-1 §7.5.7).

    The decompressed payload is N whitespace-separated (objnum, offset)
    integer pairs, then — starting at /First — the concatenated object
    bodies.  Only plain objects may live in an ObjStm (streams cannot),
    so every entry becomes an _Obj(body, None).  We never decode the
    /XRef stream's offset table: the flat scan already found every
    top-level object, and this expansion surfaces the compressed ones,
    which together is the full object set a reader reached via xref.
    Entries do not overwrite a same-numbered top-level object (we
    ignore generations; the flat-scanned copy is from the same file).

    Raises ValueError on structural corruption (missing /N or /First,
    header shorter than the pair count); filters and /DecodeParms
    predictors ride the shared _stream_of chain."""
    stms = [
        o for o in objs.values()
        if o.stream is not None
        and re.search(rb"/Type\s*/ObjStm\b", o.body)
    ]
    for o in stms:
        payload = _stream_of(o)
        nm = re.search(rb"/N\s+(\d+)", o.body)
        fm = re.search(rb"/First\s+(\d+)", o.body)
        if payload is None or nm is None or fm is None:
            raise ValueError("ObjStm missing /N or /First")
        n, first = int(nm.group(1)), int(fm.group(1))
        header = payload[:first].split()
        if len(header) < 2 * n:
            raise ValueError("ObjStm header shorter than /N pairs")
        pairs = [
            (int(header[2 * i]), int(header[2 * i + 1]))
            for i in range(n)
        ]
        for i, (num, off) in enumerate(pairs):
            end = first + pairs[i + 1][1] if i + 1 < n else len(payload)
            if num not in objs:
                objs[num] = _Obj(payload[first + off:end], None)


def _page_order(data: bytes, objs: dict[int, _Obj]) -> list[int]:
    """Page object numbers in reading order via the /Root -> /Pages ->
    /Kids tree; falls back to object-number order of /Type /Page
    objects if the tree cannot be walked."""
    pages: list[int] = []

    def walk(num: int, depth: int = 0) -> None:
        if depth > 64 or num not in objs:
            return
        body = objs[num].body
        if re.search(rb"/Type\s*/Page\b(?!s)", body):
            pages.append(num)
            return
        kids = re.search(rb"/Kids\s*\[(.*?)\]", body, re.S)
        if kids:
            for m in _REF_RE.finditer(kids.group(1)):
                walk(int(m.group(1)), depth + 1)

    # the last trailer's /Root wins (an incremental update may point it
    # at a new catalog); the first /Root anywhere only when no trailer
    # carries one
    root = _trailer_ref(data, objs, b"Root")
    if root is None:
        m = re.search(rb"/Root\s+(\d+)\s+\d+\s+R", data)
        root = int(m.group(1)) if m else None
    if root in objs:
        cat = re.search(rb"/Pages\s+(\d+)\s+\d+\s+R", objs[root].body)
        if cat:
            walk(int(cat.group(1)))
    if not pages:
        pages = sorted(
            n for n, o in objs.items()
            if re.search(rb"/Type\s*/Page\b(?!s)", o.body)
        )
    return pages


# --- /ToUnicode CMaps (ISO 32000-1 §9.10.3) ---------------------------------
#
# Type0/CID fonts show GLYPH-ID strings, not character bytes — without
# the font's /ToUnicode CMap their text is unrecoverable garbage, and
# Type0+ToUnicode is how essentially every modern generator (browsers,
# office suites, LaTeX with unicode engines) writes PDFs.  The CMap is
# a small PostScript-syntax table of bfchar/bfrange entries mapping
# character codes to UTF-16BE strings; simple (1-byte) fonts may carry
# one too, overriding their encoding for extraction purposes.

_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_BFRANGE_ENTRY_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
    rb"(?:<([0-9A-Fa-f]+)>|\[(.*?)\])",
    re.S,
)


def _u16(hexs: bytes) -> str:
    h = hexs.decode("ascii")
    if len(h) % 2:
        h += "0"
    return bytes.fromhex(h).decode("utf-16-be", "replace")


class _FontDecoder:
    """code->unicode decoder built from a /ToUnicode CMap.  Codes are
    fixed-width (1 or 2 bytes, from the codespace range — the shapes
    simple and Identity-H Type0 fonts use); unmapped codes and a
    trailing partial code decode to U+FFFD, never dropped silently."""

    __slots__ = ("code_len", "mapping")

    def __init__(self, code_len: int, mapping: dict[int, str]) -> None:
        self.code_len = code_len
        self.mapping = mapping

    def decode(self, s: bytes) -> str:
        n, w = len(s), self.code_len
        out: list[str] = []
        for i in range(0, n - n % w, w):
            out.append(
                self.mapping.get(
                    int.from_bytes(s[i:i + w], "big"), "�"
                )
            )
        if n % w:
            out.append("�")
        return "".join(out)


# Adobe Glyph List, ASCII-covering subset + the common typographic
# extras TeX/Office subsetters emit.  Glyph names are the STANDARD
# ones (AGL); anything outside this table decodes to U+FFFD — visibly
# wrong, never silently dropped.  Letters map to themselves below.
_AGL_SUBSET = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6", "seven": "7",
    "eight": "8", "nine": "9", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "fi": "fi", "fl": "fl",
}
for _ch in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _AGL_SUBSET[_ch] = _ch


def _parse_differences(font_body: bytes,
                       objs: dict[int, _Obj]) -> _FontDecoder | None:
    """Decoder for a simple font carrying /Encoding /Differences
    (§9.6.5) and no /ToUnicode: start from the latin-1 identity (the
    documented total fallback) and override the re-mapped codes via
    the AGL-subset glyph table.  Returns None when the font has no
    Differences array.  The /Encoding value may be a name (ignored —
    the standard encodings are latin-1-close enough for the fallback
    contract), an inline dict, or an indirect reference to one."""
    em = re.search(rb"/Encoding\s*(?=(<<)|(\d+)\s+\d+\s+R)", font_body)
    if em is None:
        return None
    if em.group(2) is not None:
        eo = objs.get(int(em.group(2)))
        enc_body = eo.body if eo is not None else b""
    else:
        enc_body = _balanced_dict(font_body, em.start()) or b""
    dm = re.search(rb"/Differences\s*\[", enc_body)
    if dm is None:
        return None
    # balanced scan (names cannot contain brackets, but be safe)
    depth, p = 1, dm.end()
    while p < len(enc_body) and depth:
        if enc_body[p] == 0x5B:
            depth += 1
        elif enc_body[p] == 0x5D:
            depth -= 1
        p += 1
    arr = enc_body[dm.end() : p - 1]
    mapping = {i: chr(i).encode("latin-1").decode("latin-1")
               for i in range(256)}
    code = 0
    for tok in re.findall(rb"/[^\s/<>\[\]()]+|[-+]?\d+", arr):
        if tok[:1] == b"/":
            name = tok[1:].decode("latin-1")
            mapping[code & 0xFF] = _AGL_SUBSET.get(name, "�")
            code += 1
        else:
            code = int(tok)
    return _FontDecoder(1, mapping)


def _parse_tounicode(data: bytes) -> _FontDecoder:
    """Parse a /ToUnicode CMap stream: codespace width, bfchar pairs,
    bfrange runs (both the incrementing-destination and the explicit
    destination-array forms).  Range increments step the last UTF-16
    code unit — the form every real generator emits (ranges never
    cross a surrogate boundary in practice)."""
    code_len = 2
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
    if m is not None:
        h = _HEX_RE.search(m.group(1))
        if h is not None:
            code_len = max(1, min(2, len(h.group(1)) // 2))
    mapping: dict[int, str] = {}
    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = _HEX_RE.findall(m.group(1))
        for src, dst in zip(toks[0::2], toks[1::2]):
            mapping[int(src, 16)] = _u16(dst)
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        for em in _BFRANGE_ENTRY_RE.finditer(m.group(1)):
            lo, hi = int(em.group(1), 16), int(em.group(2), 16)
            if hi < lo or hi - lo > 0xFFFF:
                raise ValueError("ToUnicode: bfrange bounds out of order"
                                 " or oversized")
            if em.group(3) is not None:
                h = em.group(3).decode("ascii")
                if len(h) % 2:
                    h += "0"
                dst = bytes.fromhex(h)
                prefix, unit = dst[:-2], dst[-2:]
                if len(unit) < 2:
                    prefix, unit = b"", b"\x00" + (unit or b"\x00")
                base = int.from_bytes(unit, "big")
                for c in range(lo, hi + 1):
                    mapping[c] = _u16(
                        (prefix + (base + c - lo).to_bytes(2, "big"))
                        .hex().encode()
                    )
            else:
                dsts = _HEX_RE.findall(em.group(4))
                for i, d in enumerate(dsts):
                    if lo + i <= hi:
                        mapping[lo + i] = _u16(d)
    return _FontDecoder(code_len, mapping)


def _page_fonts(
    page_body: bytes, objs: dict[int, _Obj]
) -> dict[bytes, _FontDecoder]:
    """name -> decoder for every page font that carries a /ToUnicode
    CMap, or — failing that — an /Encoding /Differences array (§9.6.5,
    the subsetted-simple-font shape: latin-1 identity base with the
    re-mapped codes resolved through the AGL glyph-name table).
    Fonts with neither are absent: their strings keep the latin-1
    byte interpretation (right for the standard-font family, the
    documented garbled-but-total behavior for bare Type0)."""
    fonts: dict[bytes, _FontDecoder] = {}
    for name, num in _resources_entries(page_body, objs, b"Font"):
        fo = objs.get(num)
        if fo is None:
            continue
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", fo.body)
        if tm is not None:
            cmap = _stream_of(objs.get(int(tm.group(1))))
            if cmap:
                fonts[name] = _parse_tounicode(cmap)
                continue
        diff = _parse_differences(fo.body, objs)
        if diff is not None:
            fonts[name] = diff
    return fonts


def _content_text(
    content: bytes, fonts: dict[bytes, _FontDecoder] | None = None
) -> str:
    """Interpret the text operators of one content stream.

    Line model: ', ", T*, Tm, and Td/TD with a non-zero vertical move
    start a new output line (one-Tm-per-line is the emission style of
    many generators; BT already opens a line, so a leading Tm is a
    no-op); Tj/TJ append to the current line.  TJ's numeric kerning
    adjustments are ignored except large negative gaps, which render
    as a space (the convention word-spacing hacks rely on).

    Shown strings decode through the Tf-selected font's /ToUnicode
    decoder when the page carries one (the Type0/CID path); otherwise
    latin-1, byte-preserving."""
    fonts = fonts or {}
    cur: _FontDecoder | None = None
    lines: list[list[str]] = [[]]
    stack: list[object] = []
    in_text = False
    arr: list[object] | None = None

    def newline() -> None:
        if lines[-1]:
            lines.append([])

    def dec(s: bytes) -> str:
        return cur.decode(s) if cur is not None else s.decode("latin-1")

    for tok in _tokens(content):
        first = tok[:1]
        if tok == b"[":
            arr = []
            continue
        if tok == b"]":
            stack.append(arr if arr is not None else [])
            arr = None
            continue
        target = arr if arr is not None else stack
        if first in (b"(", b"<") and tok not in (b"<<", b">>"):
            target.append(_string_bytes(tok))
            continue
        if first == b"/" or tok in (b"<<", b">>"):
            target.append(tok)
            continue
        if re.fullmatch(rb"[-+]?[0-9]*\.?[0-9]+", tok):
            target.append(float(tok))
            continue
        # operator
        op = tok
        if op == b"BT":
            in_text = True
            newline()
        elif op == b"ET":
            in_text = False
        elif op == b"Tf":
            names = [v for v in stack if isinstance(v, bytes)
                     and v[:1] == b"/"]
            if names:
                cur = fonts.get(names[-1])
        elif in_text and op == b"Tj":
            if stack and isinstance(stack[-1], bytes):
                lines[-1].append(dec(stack[-1]))
        elif in_text and op in (b"'", b'"'):
            newline()
            if stack and isinstance(stack[-1], bytes):
                lines[-1].append(dec(stack[-1]))
        elif in_text and op == b"TJ":
            if stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        lines[-1].append(dec(el))
                    elif isinstance(el, float) and el < -200:
                        lines[-1].append(" ")
        elif in_text and op in (b"T*", b"Tm"):
            newline()
        elif in_text and op in (b"Td", b"TD"):
            if len(stack) >= 1 and isinstance(stack[-1], float) and stack[-1] != 0:
                newline()
        stack.clear()
    text_lines = ["".join(parts) for parts in lines if parts]
    return "\n".join(text_lines)


_TRAILER_RE = re.compile(rb"trailer(.*?)startxref", re.S)
_XREF_TYPE_RE = re.compile(rb"/Type\s*/XRef\b")


def _xref_heads(objs: dict[int, _Obj]) -> list[bytes]:
    """Heads of the /XRef streams: the trailer dicts of a PDF 1.5+ file
    without a 'trailer' keyword.  The /Type check runs on parsed object
    HEADS, not the whole file, so page text that merely mentions these
    names cannot false-positive."""
    return [
        o.body for o in objs.values()
        if o.stream is not None and _XREF_TYPE_RE.search(o.body)
    ]


def _trailer_ref(data: bytes, objs: dict[int, _Obj], key: bytes) -> int | None:
    """Object number of `/key n g R` in the LAST trailer dict that
    carries it (incremental updates append one trailer each), or None.
    The trailer dicts are the `trailer ... startxref` sections, or the
    /XRef stream heads when the file has no 'trailer' keyword — the
    same heads _validated_objects scans for /Encrypt."""
    if b"trailer" in data:
        heads = [m.group(1) for m in _TRAILER_RE.finditer(data)]
    else:
        heads = _xref_heads(objs)
    num = None
    pat = re.compile(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R")
    for head in heads:
        m = pat.search(head)
        if m is not None:
            num = int(m.group(1))
    return num


def _validated_objects(data: bytes) -> dict[int, _Obj]:
    """Header/encryption-validated object table with ObjStm expansion —
    the parse every extractor (text, layout, rasters, renderer) shares.

    Encrypted documents whose USER password is empty (the owner-locked
    print/copy-restricted shape — the common "encrypted" PDF in a
    crawl) are DECRYPTED here via the RC4 standard security handler
    (functions/pdfcrypt.py): every stream payload is replaced by its
    plaintext, so downstream extractors run unchanged.  Real passwords
    and AES crypt filters refuse loudly.

    Raises ValueError for non-PDF bytes or undecryptable documents."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("not a PDF: missing %PDF- header")
    # /Encrypt only means encryption inside the TRAILER dict — grepping
    # the whole file would reject documents whose page TEXT mentions it
    enc_ref: int | None = None
    id0 = b""
    for tm in _TRAILER_RE.finditer(data):
        em = re.search(rb"/Encrypt\s+(\d+)\s+\d+\s+R", tm.group(1))
        if em is not None:
            enc_ref = int(em.group(1))
        elif re.search(rb"/Encrypt\b", tm.group(1)):
            raise ValueError("encrypted PDF: decryption unsupported")
    objs = _objects(data)
    if b"trailer" not in data:
        # PDF 1.5+ layout: with no 'trailer' keyword the trailer dict
        # IS the /XRef stream's dict (its head sits UNCOMPRESSED in
        # the file, so the flat scan sees it) — that is where /Encrypt
        # lives for these files, and it must be found BEFORE ObjStm
        # expansion or an encrypted payload would surface as a zlib
        # error instead of decrypting.
        xref_heads = _xref_heads(objs)
        if not xref_heads:
            raise ValueError(
                "no trailer keyword and no /XRef stream:"
                " cross-reference unparseable"
            )
        for h in xref_heads:
            em = re.search(rb"/Encrypt\s+(\d+)\s+\d+\s+R", h)
            if em is not None:
                enc_ref = int(em.group(1))
                im = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f]+)>", h)
                if im is not None:
                    hx = im.group(1).decode("ascii")
                    id0 = bytes.fromhex(
                        hx + ("0" if len(hx) % 2 else "")
                    )
            elif re.search(rb"/Encrypt\b", h):
                raise ValueError(
                    "encrypted PDF: decryption unsupported"
                )
    if enc_ref is not None:
        from .pdfcrypt import build_decryptor, trailer_id0

        enc_obj = objs.get(enc_ref)
        if enc_obj is None:
            raise ValueError("encrypted PDF: decryption unsupported")
        dec = build_decryptor(
            enc_obj.body, id0 or trailer_id0(data)
        )
        # every stream decrypts EXCEPT the /Encrypt dict and /XRef
        # streams — cross-reference streams are never encrypted
        # (§7.5.8.2: a reader parses them before it can know the
        # document is encrypted at all)
        objs = {
            num: (
                o if o.stream is None or num == enc_ref
                or _XREF_TYPE_RE.search(o.body)
                else _Obj(o.body, dec.decrypt_stream(num, o.stream))
            )
            for num, o in objs.items()
        }
    # surface objects hidden inside /ObjStm payloads (PDF 1.5+
    # compressed object storage) — the r4 refusal path, now parsed
    _expand_objstms(objs)
    return objs


def _page_content(objs: dict[int, _Obj], body: bytes) -> bytes:
    """Concatenated decoded /Contents stream of one page body."""
    content = b""
    cm = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", body)
    refs = [int(cm.group(1))] if cm else []
    if not refs:
        cm = re.search(rb"/Contents\s*\[(.*?)\]", body, re.S)
        if cm:
            refs = [int(m.group(1)) for m in _REF_RE.finditer(cm.group(1))]
    for r in refs:
        s = _stream_of(objs.get(r))
        if s:
            content += s + b"\n"
    return content


def _pages_with_fonts(
    data: bytes,
) -> list[tuple[bytes, dict[bytes, _FontDecoder]]]:
    """(content, tounicode-fonts) per page, page-tree order — the
    validated parse both text extractors share."""
    objs = _validated_objects(data)
    out = []
    for pnum in _page_order(data, objs):
        body = objs[pnum].body
        out.append((_page_content(objs, body), _page_fonts(body, objs)))
    return out


def extract_pdf_text(data: bytes) -> list[str]:
    """Per-page text of a PDF, in page-tree order.  Type0/CID and
    simple fonts carrying a /ToUnicode CMap decode through it; other
    fonts keep the latin-1 byte interpretation.

    Raises ValueError for non-PDF bytes or encrypted documents; pages
    whose content stream cannot be located contribute an empty string.
    """
    return [_content_text(c, f) for c, f in _pages_with_fonts(data)]


def _ocr_pdf_rasters(data: bytes, ocr_cfg) -> tuple[list[str], float] | None:
    """OCR the page rasters of a text-less PDF: (page texts, mean
    confidence), or None when the document has no extractable image
    pages (born-digital empty doc — nothing to OCR).

    Two raster sources, tried in order: the embedded image XObject
    (extract_pdf_page_rasters — exact, the plain scanned shape), and
    when that refuses because the page actually COMPOSITES ("multiple
    image XObjects"), the content-stream renderer
    (functions/pdfrender.render_pdf_pages)."""
    try:
        rasters = extract_pdf_page_rasters(data)
    except ValueError as exc:
        if "compositing" not in str(exc):
            return None
        from .pdfrender import render_pdf_pages

        try:
            rasters = render_pdf_pages(data)
        except Exception:
            return None
    except Exception:
        return None
    from ..ocr.engine import get_engine
    from ..operators.media_ocr import recognize_fail_soft

    engine = get_engine(ocr_cfg.ocr)
    texts: list[str] = []
    confs: list[float] = []
    for img in rasters:
        res = recognize_fail_soft(img, ocr_cfg, engine.recognize)
        texts.append(res.text)
        confs.append(res.confidence)
    return texts, (sum(confs) / len(confs) if confs else 0.0)


def pdf_text_row(ref: str, data: bytes, ocr_cfg=None) -> dict:
    """One document's extraction row — shared verbatim by the Spark
    UDF and the golden-fixture generator.

    With ocr_cfg set, a document whose content streams yield NO text
    falls through to the scanned-PDF path: page rasters are the
    embedded image XObjects (extract_pdf_page_rasters) and the SAME
    preprocess + OCR chain the image branch runs recognizes them —
    confidence then carries the engine's mean page confidence (0-100,
    the image branch's scale) instead of the born-digital 100.0."""
    row = dict(media_ref=ref, n_pages=None, text=None, confidence=None,
               error=None)
    try:
        data = bytes(data)
        pages = extract_pdf_text(data)
        row["n_pages"] = len(pages)
        row["text"] = "\f".join(pages)
        # born-digital: the parse is exact — top of the SAME 0-100
        # scale the OCR engine reports, so pdf and image spans are
        # comparable in one column
        row["confidence"] = 100.0
        if ocr_cfg is not None and pages and not any(
            p.strip() for p in pages
        ):
            got = _ocr_pdf_rasters(data, ocr_cfg)
            if got is not None:
                texts, conf = got
                row["n_pages"] = len(texts)
                row["text"] = "\f".join(texts)
                row["confidence"] = round(conf, 6)
    except Exception as exc:
        row["error"] = str(exc)
        row["confidence"] = None
    return row


PDF_RESULT_SCHEMA = (
    "content_hash string, text string, n_pages int, confidence double,"
    " error string"
)


def make_pdf_parse_map(ocr_cfg=None):
    """Build the mapInPandas stage over DISTINCT work units
    (content_hash, bytes) — the pipeline's pdf analogue of the OCR
    stage: one parse per distinct byte content, results joined back to
    every referencing span (C2's shape, minus durable memo — the parse
    is cheap enough that recomputation beats carrying a second memo
    table).  ocr_cfg enables the scanned-PDF OCR fallback."""

    def pdf_parse_map(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for h, data in zip(pdf["content_hash"], pdf["bytes"]):
                r = pdf_text_row(h, bytes(data), ocr_cfg=ocr_cfg)
                rows.append(
                    dict(content_hash=h, text=r["text"],
                         n_pages=r["n_pages"],
                         confidence=r["confidence"], error=r["error"])
                )
            yield pd.DataFrame(
                rows, columns=["content_hash", "text", "n_pages",
                               "confidence", "error"]
            )

    return pdf_parse_map


def pdf_text(media: DataFrame, ocr_cfg=None) -> DataFrame:
    """mapInPandas stage: (media_ref, bytes) -> per-doc extracted text
    (pages joined by form-feed), REAL decode path — errors isolate per
    row exactly like the OCR stage (P1).  ocr_cfg enables the
    scanned-PDF OCR fallback for text-less documents."""
    return map_rows(
        media, lambda ref, data: [pdf_text_row(ref, data, ocr_cfg=ocr_cfg)],
        PDF_TEXT_SCHEMA, "media_ref", "bytes",
    )


# ---------------------------------------------------------------------------
# Scanned/image PDFs — embedded image-XObject raster extraction.
#
# A "scanned" PDF carries no usable content-stream text: each page is one
# (occasionally several) /Subtype /Image XObject painted by a `cm … Do`
# pair.  Rasterizing such a page does NOT need a renderer — the page
# raster IS the embedded image, so extraction is object parsing plus the
# image filter.  This section implements that path for the filters that
# are pure stdlib/numpy: unfiltered samples and /FlateDecode (zlib), at
# 1- and 8-bit DeviceGray and 8-bit DeviceRGB (luma-folded).  DCTDecode
# payloads are literal JPEG files and decode via imaging/jpeg.py when it
# is importable; anything else (JPXDecode, CCITTFaxDecode, /Indexed,
# /Decode inversion arrays, /SMask transparency) refuses loudly by name
# rather than emitting a silently-wrong raster.
#
# Reference parity: mcp-ocr-server only ever receives ready image bytes
# (server.go routes base64/file images straight to Tesseract); scanned
# PDFs are the corpus-side reality the north rule adds ("PDF/layout
# parse" feeding the OCR path).  extract_pdf_page_rasters is the REAL
# implementation behind multimodal.parse_pdf_pages.

_IMG_INT_RE = {
    k: re.compile(rb"/" + k + rb"\s+(\d+)(?!\d)")
    for k in (b"Width", b"Height", b"BitsPerComponent")
}


def _balanced_dict(body: bytes, start: int) -> bytes | None:
    """Slice the balanced `<< … >>` dict beginning at/after `start`
    (returns the bytes INSIDE the outermost delimiters)."""
    m = re.compile(rb"<<").search(body, start)
    if m is None:
        return None
    depth, pos = 1, m.end()
    while depth and pos < len(body):
        nxt_open = body.find(b"<<", pos)
        nxt_close = body.find(b">>", pos)
        if nxt_close == -1:
            return None
        if nxt_open != -1 and nxt_open < nxt_close:
            depth, pos = depth + 1, nxt_open + 2
        else:
            depth, pos = depth - 1, nxt_close + 2
    return body[m.end() : pos - 2] if depth == 0 else None


def _resources_entries(
    page_body: bytes, objs: dict[int, _Obj], kind: bytes
) -> list[tuple[bytes, int]]:
    """(name, objnum) pairs of one page-resource category (/XObject,
    /Font), in declaration order.  /Resources may be inline or an
    indirect reference; the category sub-dict likewise.  /Resources
    is INHERITABLE (§7.7.3.4) — a page without its own entry climbs
    /Parent links up the page tree (depth-capped), the shape
    generators that hang one shared dict on the /Pages node emit."""
    rm = None
    for _ in range(32):
        rm = re.search(
            rb"/Resources\s*(?=(<<)|(\d+)\s+\d+\s+R)", page_body
        )
        if rm is not None:
            break
        pm = re.search(rb"/Parent\s+(\d+)\s+\d+\s+R", page_body)
        parent = objs.get(int(pm.group(1))) if pm else None
        if parent is None:
            return []
        page_body = parent.body
    if rm is None:
        return []
    if rm.group(2) is not None:
        ro = objs.get(int(rm.group(2)))
        base = ro.body if ro is not None else b""
        xs = re.search(rb"/" + kind + rb"\s*(?=(<<)|(\d+)\s+\d+\s+R)", base)
    else:
        base = _balanced_dict(page_body, rm.start()) or b""
        xs = re.search(rb"/" + kind + rb"\s*(?=(<<)|(\d+)\s+\d+\s+R)", base)
    if xs is None:
        return []
    if xs.group(2) is not None:
        xo = objs.get(int(xs.group(2)))
        xdict = xo.body if xo is not None else b""
    else:
        xdict = _balanced_dict(base, xs.start()) or b""
    return [
        (m.group(1), int(m.group(2)))
        for m in re.finditer(
            rb"(/[^\s/<>\[\]()]+)\s+(\d+)\s+\d+\s+R", xdict
        )
    ]


def _resources_xobjects(
    page_body: bytes, objs: dict[int, _Obj]
) -> list[tuple[bytes, int]]:
    """(name, objnum) pairs of the page's /XObject resources."""
    return _resources_entries(page_body, objs, b"XObject")


def _unpack_samples(
    samples: bytes, w: int, h: int, bpc: int, ncomp: int
) -> "np.ndarray":
    """(h, w, ncomp) uint8 array of RAW sample values (no range
    scaling), rows padded to byte boundaries per §8.9.5.2."""
    import numpy as np

    stride = (w * ncomp * bpc + 7) // 8
    if len(samples) < stride * h:
        raise ValueError("image XObject: sample data truncated")
    rows = np.frombuffer(samples[: stride * h], dtype=np.uint8)
    rows = rows.reshape(h, stride)
    if bpc == 8:
        return rows[:, : w * ncomp].reshape(h, w, ncomp).copy()
    bits = np.unpackbits(rows, axis=1)[:, : w * ncomp * bpc]
    bits = bits.reshape(h, w * ncomp, bpc)
    weights = (1 << np.arange(bpc - 1, -1, -1)).astype(np.uint8)
    vals = (bits * weights).sum(axis=2).astype(np.uint8)
    return vals.reshape(h, w, ncomp)


def _parse_decode_array(body: bytes, n: int) -> list[float] | None:
    m = re.search(rb"/Decode\s*\[([^\]]*)\]", body)
    if m is None:
        return None
    nums = [float(t) for t in re.findall(rb"[-\d.]+", m.group(1))]
    if len(nums) != 2 * n:
        raise ValueError(
            "image XObject: /Decode length does not match components"
        )
    return nums


def _indexed_lookup(
    body: bytes, cs_inner: bytes, objs: dict[int, _Obj] | None
) -> tuple[int, int, bytes]:
    """(base components, hival, palette bytes) of an /Indexed
    colorspace array `[/Indexed base hival lookup]` (§8.6.6.3).
    The lookup may be a literal string, a hex string, or an indirect
    stream reference."""
    m = re.search(
        rb"/Indexed\s*(/DeviceGray|/DeviceRGB)\s+(\d+)\s*"
        rb"(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>|\d+\s+\d+\s+R)",
        cs_inner, re.S,
    )
    if m is None:
        raise ValueError(
            "image XObject: /Indexed base must be /DeviceGray or"
            " /DeviceRGB with a string or stream lookup"
        )
    ncomp = 1 if m.group(1) == b"/DeviceGray" else 3
    hival = int(m.group(2))
    tok = m.group(3)
    if tok.endswith(b"R"):
        if objs is None:
            raise ValueError(
                "image XObject: indirect /Indexed lookup needs the"
                " object table"
            )
        ref = int(tok.split()[0])
        pal_obj = objs.get(ref)
        pal = _stream_of(pal_obj)
        if pal is None:
            raise ValueError(
                "image XObject: dangling /Indexed lookup reference"
            )
    elif tok.startswith(b"("):
        pal = _decode_literal(tok)
    else:
        pal = _decode_hex(tok)
    if len(pal) < (hival + 1) * ncomp:
        raise ValueError("image XObject: /Indexed lookup too short")
    return ncomp, hival, pal


def _luma_fold(rgb: "np.ndarray") -> "np.ndarray":
    """(…, 3) uint8 -> (…) uint8 ITU-R BT.601 integer luma — exact,
    reproducible across hosts."""
    import numpy as np

    r = rgb.astype(np.uint32)
    return (
        (77 * r[..., 0] + 150 * r[..., 1] + 29 * r[..., 2] + 128) >> 8
    ).astype(np.uint8)


def _decode_image_xobject(
    obj: _Obj, objs: dict[int, _Obj] | None = None,
    smask_chain: frozenset[int] = frozenset(),
) -> "np.ndarray":
    """One /Subtype /Image XObject -> grayscale uint8 raster.

    Supported: the full decodable filter CHAIN (Flate/LZW/A85/AHx/RL
    + predictors) over /DeviceGray 1/2/4/8-bit, /DeviceRGB 8-bit
    (ITU-R BT.601 integer luma fold), and /Indexed palettes over
    either base at 1/2/4/8-bit indices; /DCTDecode (chain-terminal)
    via the in-repo baseline JPEG decoder; /Decode component remaps
    (§8.9.5.2 — the 1-bit fax inversion [1 0] shape and any linear
    map); /SMask soft masks composited onto the white page background
    (needs `objs` to resolve the mask object; `smask_chain` holds the
    mask objects already being decoded, so a cycle refuses).
    Everything else raises ValueError naming the unsupported
    feature."""
    import numpy as np

    body = obj.body
    ints = {}
    for key, rx in _IMG_INT_RE.items():
        m = rx.search(body)
        if m is None:
            raise ValueError(
                f"image XObject missing /{key.decode()}"
            )
        ints[key] = int(m.group(1))
    w, h = ints[b"Width"], ints[b"Height"]
    bpc = ints[b"BitsPerComponent"]
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("image XObject dimensions out of range")
    if bpc not in (1, 2, 4, 8):
        raise ValueError(f"image XObject: {bpc}-bit samples unsupported")
    raw = obj.stream or b""
    filters = _parse_filters(body)
    parms = _parse_decode_parms(body, len(filters))
    if filters and filters[-1] == b"/DCTDecode":
        # chain-terminal JPEG payload (possibly ascii-armored by the
        # preceding filters) — JFIF handles geometry/colorspace; the
        # sample-space options below don't apply to DCT output
        if re.search(rb"/Decode\s*\[", body):
            raise ValueError(
                "image XObject: /Decode with /DCTDecode unsupported"
            )
        try:
            from ..imaging.jpeg import decode_jpeg_gray
        except ImportError:
            raise ValueError(
                "image XObject: /DCTDecode needs imaging.jpeg"
            ) from None
        img = decode_jpeg_gray(
            _apply_filter_list(raw, filters[:-1], parms[:-1])
        )
        if img.shape != (h, w):
            raise ValueError(
                "DCTDecode geometry mismatch vs /Width /Height"
            )
        return _apply_smask(img, body, objs, smask_chain)
    samples = _apply_filter_list(raw, filters, parms)
    maxval = (1 << bpc) - 1
    # colorspace: direct name, /Indexed array (inline or via an
    # indirect reference to the array object)
    cs_inner = None
    csm = re.search(rb"/ColorSpace\s*(\[[^\]]*\]|/[A-Za-z0-9]+"
                    rb"|\d+\s+\d+\s+R)", body, re.S)
    if csm is None:
        raise ValueError("image XObject: missing /ColorSpace")
    cs_tok = csm.group(1)
    if cs_tok.endswith(b"R") and not cs_tok.startswith(b"/"):
        if objs is None:
            raise ValueError(
                "image XObject: indirect /ColorSpace needs the"
                " object table"
            )
        cs_obj = objs.get(int(cs_tok.split()[0]))
        if cs_obj is None:
            raise ValueError(
                "image XObject: dangling /ColorSpace reference"
            )
        cs_tok = cs_obj.body.strip()
    if cs_tok.startswith(b"["):
        cs_inner = cs_tok
    if cs_inner is not None and b"/Indexed" in cs_inner:
        base_ncomp, hival, pal = _indexed_lookup(body, cs_inner, objs)
        if _parse_decode_array(body, 1) is not None:
            raise ValueError(
                "image XObject: /Decode on /Indexed unsupported"
            )
        idx = _unpack_samples(samples, w, h, bpc, 1)[..., 0]
        idx = np.minimum(idx, hival)  # §8.6.6.3: clamp out-of-range
        table = np.frombuffer(
            pal[: (hival + 1) * base_ncomp], dtype=np.uint8
        ).reshape(hival + 1, base_ncomp)
        mapped = table[idx]
        gray = (mapped[..., 0] if base_ncomp == 1
                else _luma_fold(mapped))
        return _apply_smask(gray.copy(), body, objs, smask_chain)
    nm = re.search(rb"/(DeviceGray|DeviceRGB)\b", cs_tok)
    if nm is None:
        raise ValueError(
            "image XObject: only /DeviceGray, /DeviceRGB and /Indexed"
            " colorspaces supported"
        )
    ncomp = 1 if nm.group(1) == b"DeviceGray" else 3
    if ncomp == 3 and bpc != 8:
        raise ValueError(
            "image XObject: sub-byte /DeviceRGB samples unsupported"
        )
    arr = _unpack_samples(samples, w, h, bpc, ncomp)
    dec = _parse_decode_array(body, ncomp)
    if dec is None:
        dec = [0.0, 1.0] * ncomp
    # component map: value = Dmin + s/maxval * (Dmax - Dmin), scaled
    # to the 0-255 output range (float64 + rint — IEEE-deterministic)
    out = np.empty((h, w, ncomp), dtype=np.uint8)
    for c in range(ncomp):
        lo, hi = dec[2 * c], dec[2 * c + 1]
        vals = lo + arr[..., c].astype(np.float64) / maxval * (hi - lo)
        out[..., c] = np.clip(
            np.rint(vals * 255.0), 0, 255
        ).astype(np.uint8)
    gray = out[..., 0] if ncomp == 1 else _luma_fold(out)
    return _apply_smask(np.ascontiguousarray(gray), body, objs,
                        smask_chain)


def _apply_smask(
    img: "np.ndarray", body: bytes, objs: dict[int, _Obj] | None,
    smask_chain: frozenset[int],
) -> "np.ndarray":
    """Composite a /SMask soft mask (§11.6.5.2) onto the white page
    background: out = (alpha * pix + (255 - alpha) * 255) / 255 in
    exact integer arithmetic.  The mask must be a /DeviceGray image
    of identical geometry; no mask = identity."""
    import numpy as np

    sm = re.search(rb"/SMask\s+(\d+)\s+\d+\s+R", body)
    if sm is None:
        if re.search(rb"/SMask\b", body):
            raise ValueError(
                "image XObject: /SMask must be an indirect image"
                " reference"
            )
        return img
    if objs is None:
        raise ValueError(
            "image XObject: /SMask needs the object table"
        )
    num = int(sm.group(1))
    if num in smask_chain:
        raise ValueError("image XObject: /SMask reference cycle")
    mask_obj = objs.get(num)
    if mask_obj is None:
        raise ValueError("image XObject: dangling /SMask reference")
    mask = _decode_image_xobject(mask_obj, objs, smask_chain | {num})
    if mask.shape != img.shape:
        raise ValueError(
            "image XObject: /SMask geometry differs from the image"
        )
    a = mask.astype(np.uint32)
    p = img.astype(np.uint32)
    return ((a * p + (255 - a) * 255 + 127) // 255).astype(np.uint8)


def _page_paints_overlays(content: bytes) -> bool:
    """True when a page's content stream paints anything VISIBLE
    besides image XObjects — shown text outside an invisible Tr 3
    layer, or filled paths.  Such a page's raster is NOT its embedded
    image: the bare-XObject shortcut would silently drop the overlay
    (review finding), so callers must route it to the renderer.  An
    invisible OCR text layer (Tr 3 — the searchable-scan shape) is
    exactly the case the shortcut remains correct for."""
    render_mode = 0.0
    stack: list[float] = []
    for tok in _tokens(content):
        if _NUM_TOKEN_RE.fullmatch(tok):
            stack.append(float(tok))
            continue
        if tok == b"Tr":
            if stack:
                render_mode = stack[-1]
        elif tok in (b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*",
                     b"S", b"s", b"sh"):
            return True
        elif tok in (b"Tj", b"TJ", b"'", b'"'):
            if render_mode != 3.0:
                return True
        if tok[:1] not in b"0123456789+-." :
            stack.clear()
    return False


_NUM_TOKEN_RE = re.compile(rb"[-+]?[0-9]*\.?[0-9]+")


def extract_pdf_page_rasters(data: bytes) -> list["np.ndarray"]:
    """Per-page raster of a scanned/image PDF, page-tree order.

    Each page must paint EXACTLY its single image XObject (an
    invisible Tr 3 OCR text layer is allowed — the searchable-scan
    shape).  Pages with several images, or with visible text / filled
    paths over the image, refuse loudly as compositing (the renderer
    path); a bare-XObject answer there would be a silently wrong
    raster.  Raises ValueError for non-PDF bytes, encrypted documents,
    pages without an image, and unsupported image features — same
    refusal contract as extract_pdf_text."""
    objs = _validated_objects(data)
    out = []
    for pnum in _page_order(data, objs):
        body = objs[pnum].body
        imgs = [
            num
            for _name, num in _resources_xobjects(body, objs)
            if num in objs
            and re.search(rb"/Subtype\s*/Image\b", objs[num].body)
        ]
        if not imgs:
            raise ValueError(
                "scanned-PDF page has no image XObject"
                " (born-digital pages go through extract_pdf_text)"
            )
        if len(imgs) > 1:
            raise ValueError(
                "page paints multiple image XObjects: compositing"
                " needs a renderer"
            )
        if _page_paints_overlays(_page_content(objs, body)):
            raise ValueError(
                "page paints visible text/fills over its image:"
                " compositing needs a renderer"
            )
        img = _decode_image_xobject(objs[imgs[0]], objs)
        # /Rotate (inheritable, §7.7.3.3) is the clockwise DISPLAY
        # rotation — the sideways-scanner shape; an unrotated raster
        # would OCR garbage (same semantics as the renderer path)
        from .pdfrender import _page_rotate

        rot = _page_rotate(objs, body) % 360
        if rot % 90 != 0:
            raise ValueError("page /Rotate must be a multiple of 90")
        if rot:
            import numpy as _np

            img = _np.ascontiguousarray(_np.rot90(img, k=-rot // 90))
        out.append(img)
    return out


# ---------------------------------------------------------------------------
# position-aware layout extraction (ISO 32000-1 §9.4 text positioning)
#
# _content_text above is the EMISSION-ORDER interpreter: it trusts that
# generators write lines top-to-bottom (true for most, and its output
# is the committed golden).  Real-world generators frequently emit text
# runs out of reading order (column-major, z-ordered overlays, tagged-
# content reflows); recovering reading order then REQUIRES the text
# matrix, not the stream order.  This interpreter tracks Tm/Td/TD/T*/TL
# exactly, anchors every shown string at its text-space origin, and
# reassembles lines by descending y (PDF y grows upward) with runs
# sorted by x — the geometry pass a layout-aware extractor runs.

def _content_runs(
    content: bytes, fonts: dict[bytes, _FontDecoder] | None = None
) -> list[tuple[float, float, str]]:
    """(x, y, text) of every shown string, anchored at the text-space
    origin the text matrix held when the show operator ran.  q/Q/cm
    (the CTM) are not tracked: text PDFs position with the text matrix;
    pages that paint through a transformed CTM refuse via the multi-
    image/compositing rules elsewhere.  Strings decode through the
    Tf-selected /ToUnicode decoder when present (same contract as
    _content_text)."""
    fonts = fonts or {}
    cur: _FontDecoder | None = None
    runs: list[tuple[float, float, str]] = []
    stack: list[object] = []
    arr: list[object] | None = None
    in_text = False
    # text line matrix (a b c d e f), leading
    tlm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    tm = list(tlm)
    leading = 0.0

    def show(s: bytes) -> None:
        text = cur.decode(s) if cur is not None else s.decode("latin-1")
        runs.append((tm[4], tm[5], text))

    def translate_line(tx: float, ty: float) -> None:
        # tlm = [[1 0 0],[0 1 0],[tx ty 1]] x tlm  (row-vector form)
        nonlocal tlm, tm
        e = tx * tlm[0] + ty * tlm[2] + tlm[4]
        f = tx * tlm[1] + ty * tlm[3] + tlm[5]
        tlm = [tlm[0], tlm[1], tlm[2], tlm[3], e, f]
        tm = list(tlm)

    for tok in _tokens(content):
        first = tok[:1]
        if tok == b"[":
            arr = []
            continue
        if tok == b"]":
            stack.append(arr if arr is not None else [])
            arr = None
            continue
        target = arr if arr is not None else stack
        if first in (b"(", b"<") and tok not in (b"<<", b">>"):
            target.append(_string_bytes(tok))
            continue
        if first == b"/" or tok in (b"<<", b">>"):
            target.append(tok)
            continue
        if re.fullmatch(rb"[-+]?[0-9]*\.?[0-9]+", tok):
            target.append(float(tok))
            continue
        op = tok
        if op == b"BT":
            in_text = True
            tlm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
            tm = list(tlm)
        elif op == b"ET":
            in_text = False
        elif op == b"Tf":
            names = [v for v in stack if isinstance(v, bytes)
                     and v[:1] == b"/"]
            if names:
                cur = fonts.get(names[-1])
        elif in_text and op == b"Tm" and len(stack) >= 6:
            nums = [v for v in stack[-6:] if isinstance(v, float)]
            if len(nums) == 6:
                tlm = list(nums)
                tm = list(tlm)
        elif in_text and op in (b"Td", b"TD") and len(stack) >= 2:
            tx, ty = stack[-2], stack[-1]
            if isinstance(tx, float) and isinstance(ty, float):
                if op == b"TD":
                    leading = -ty
                translate_line(tx, ty)
        elif in_text and op == b"TL" and stack \
                and isinstance(stack[-1], float):
            leading = stack[-1]
        elif in_text and op == b"T*":
            translate_line(0.0, -leading)
        elif in_text and op == b"Tj":
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif in_text and op in (b"'", b'"'):
            translate_line(0.0, -leading)
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif in_text and op == b"TJ":
            if stack and isinstance(stack[-1], list):
                parts = [el for el in stack[-1] if isinstance(el, bytes)]
                if parts:
                    show(b"".join(parts))
        stack.clear()
    return runs


def extract_pdf_layout(data: bytes) -> list[dict]:
    """Per-line layout rows in READING order (top-to-bottom, runs
    left-to-right within a line), independent of the content stream's
    emission order: (page_idx, line_idx, x, y, text).  x/y are PDF
    points (y grows upward; lines are ordered by descending y).  Same
    refusal contract as extract_pdf_text."""
    out: list[dict] = []
    for page_idx, (content, fonts) in enumerate(_pages_with_fonts(data)):
        runs = _content_runs(content, fonts)
        by_y: dict[float, list[tuple[float, str]]] = {}
        for x, y, text in runs:
            by_y.setdefault(round(y, 3), []).append((x, text))
        for line_idx, y in enumerate(sorted(by_y, reverse=True)):
            parts = sorted(by_y[y], key=lambda p: p[0])
            out.append(dict(
                page_idx=page_idx, line_idx=line_idx,
                x=round(parts[0][0], 3), y=y,
                text=" ".join(t for _x, t in parts if t),
            ))
    return out


PDF_LAYOUT_SCHEMA = (
    "media_ref string, page_idx int, line_idx int, x double, y double,"
    " text string, error string"
)


def pdf_layout_rows(ref: str, data: bytes) -> list[dict]:
    """Layout rows for one document — shared VERBATIM by the Spark
    stage (queries.q_pdf_layout) and the golden-fixture generator.
    Document-level failures yield ONE error row with null geometry."""
    try:
        rows = extract_pdf_layout(bytes(data))
    except Exception as exc:
        return [dict(media_ref=ref, page_idx=None, line_idx=None,
                     x=None, y=None, text=None, error=str(exc))]
    return [dict(media_ref=ref, error=None, **r) for r in rows]


# ---------------------------------------------------------------------------
# document metadata (/Info dictionary, ISO 32000-1 §14.3.3) — the
# title/author/date signals a curation pipeline dedups and routes on
# (reference parity: mcp-ocr-server has no pdf surface at all; this is
# part of the scale-pipeline extension like pdf_text/pdf_layout)

def _pdf_text_string(raw: bytes) -> str:
    """§7.9.2.2 text string: UTF-16BE when the BOM leads, else
    PDFDocEncoding — byte-identical to latin-1 over the range the
    corpus uses (the documented total fallback)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", "replace")
    return raw.decode("latin-1")


_PDF_DATE_RE = re.compile(
    rb"D:(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
)


def _pdf_date_iso(raw: bytes) -> str | None:
    """`D:YYYYMMDDHHmmSS…` -> ISO-8601 `YYYY-MM-DDTHH:MM:SS`,
    defaulting omitted trailing fields per §7.9.4 (month/day 01,
    time 00); None when the prefix is not a PDF date."""
    m = _PDF_DATE_RE.match(raw)
    if m is None:
        return None
    y = m.group(1).decode()
    mo, d, h, mi, s = (
        (g.decode() if g else default)
        for g, default in zip(m.groups()[1:],
                              ("01", "01", "00", "00", "00"))
    )
    return f"{y}-{mo}-{d}T{h}:{mi}:{s}"


_PDF_STRING_TOK = rb"(\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>)"


_XMP_SIMPLE = {
    # property -> (field, is rdf:Alt/Seq list of rdf:li)
    b"dc:title": ("title", True),
    b"dc:creator": ("author", True),
    b"dc:description": ("subject", True),
    b"pdf:Producer": ("producer", False),
}


def _xmp_fields(xml: bytes) -> dict:
    """title/author/subject/producer/created from an XMP packet
    (ISO 16684-1 as PDF/A profiles it): dc:* properties hold their
    value inside an rdf:Alt/Seq list's first rdf:li; pdf:Producer
    and xmp:CreateDate are simple elements.  Regex-scoped to those
    shapes — refusing to be an XML parser is deliberate (hostile
    crawl bytes; the fields are flat text leaves)."""
    out: dict = {}
    for prop, (field, is_list) in _XMP_SIMPLE.items():
        m = re.search(
            rb"<" + prop + rb"(?:\s[^>]*)?>(.*?)</" + prop + rb">",
            xml, re.S,
        )
        if m is None:
            continue
        body = m.group(1)
        if is_list:
            li = re.search(rb"<rdf:li(?:\s[^>]*)?>(.*?)</rdf:li>",
                           body, re.S)
            if li is None:
                continue
            body = li.group(1)
        text = re.sub(rb"<[^>]*>", b"", body).strip()
        if text:
            out[field] = (
                text.decode("utf-8", "replace")
                .replace("&amp;", "&").replace("&lt;", "<")
                .replace("&gt;", ">").replace("&quot;", '"')
                .replace("&apos;", "'")
            )
    cm = re.search(
        rb"<xmp:CreateDate(?:\s[^>]*)?>\s*"
        rb"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})",
        xml,
    )
    if cm is not None:
        y, mo, d, h, mi, s = (g.decode() for g in cm.groups())
        out["created"] = f"{y}-{mo}-{d}T{h}:{mi}:{s}"
    return out


def extract_pdf_info(data: bytes) -> dict:
    """The /Info dictionary's standard text fields plus the page
    count: dict(title, author, subject, producer, created, n_pages).
    Fields the /Info dict does not provide fall back to the
    catalog's XMP /Metadata stream (dc:title/creator/description,
    pdf:Producer, xmp:CreateDate) — /Info wins per field where both
    exist, the precedence ISO 32000-2 prescribes for legacy readers.
    Absent everywhere is None — absence is data; structural failures
    (non-PDF, encrypted-without-rights) raise like
    extract_pdf_text."""
    data = bytes(data)
    objs = _validated_objects(data)
    out: dict = dict(title=None, author=None, subject=None,
                     producer=None, created=None,
                     n_pages=len(_page_order(data, objs)))
    # /Info from the trailer, /Metadata from the catalog: a whole-file
    # scan would also match stream payloads (a page that merely shows
    # the text "/Info 5 0 R")
    info = objs.get(_trailer_ref(data, objs, b"Info"))
    if info is not None:
        for key, field in ((b"Title", "title"), (b"Author", "author"),
                           (b"Subject", "subject"),
                           (b"Producer", "producer")):
            km = re.search(rb"/" + key + rb"\s*" + _PDF_STRING_TOK,
                           info.body, re.S)
            if km is not None:
                out[field] = _pdf_text_string(
                    _string_bytes(km.group(1)))
        cm = re.search(rb"/CreationDate\s*" + _PDF_STRING_TOK,
                       info.body, re.S)
        if cm is not None:
            out["created"] = _pdf_date_iso(_string_bytes(cm.group(1)))
    if all(out[f] is not None
           for f in ("title", "author", "subject", "producer",
                     "created")):
        return out
    root = objs.get(_trailer_ref(data, objs, b"Root"))
    mm = (
        re.search(rb"/Metadata\s+(\d+)\s+\d+\s+R", root.body)
        if root is not None else None
    )
    if mm is not None:
        try:
            xml = _stream_of(objs.get(int(mm.group(1))))
        except ValueError:
            xml = None
        if xml:
            for field, val in _xmp_fields(xml).items():
                if out.get(field) is None:
                    out[field] = val
    return out


PDF_INFO_SCHEMA = (
    "media_ref string, title string, author string, subject string,"
    " producer string, created string, n_pages int, error string"
)


def pdf_info_rows(ref: str, data: bytes) -> list[dict]:
    """Metadata row for one document — shared VERBATIM by the Spark
    stage (queries.q_pdf_info) and the golden-fixture generator."""
    try:
        meta = extract_pdf_info(bytes(data))
    except Exception as exc:
        return [dict(media_ref=ref, title=None, author=None,
                     subject=None, producer=None, created=None,
                     n_pages=None, error=str(exc))]
    return [dict(media_ref=ref, error=None, **meta)]
