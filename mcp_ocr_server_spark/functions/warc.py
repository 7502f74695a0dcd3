"""REAL WARC (Web ARChive, ISO 28500) ingestion — pure stdlib, the
source format a web-scale training pipeline actually reads (Common
Crawl ships WARC).  Completes the ingestion story next to the jsonl /
base64 / parquet sources: archive bytes -> typed records -> the
existing html main-content / link-graph / dedup stages.

Format (WARC/1.0-1.1): each record is a version line, `Name: value`
headers, a blank line, exactly Content-Length block bytes, then a
CRLF CRLF separator.  `response` records carry an HTTP/1.x message
in the block (status line + headers + payload).  `.warc.gz` files
are concatenated per-record gzip MEMBERS — handled by a multi-member
inflate loop (stdlib zlib, wbits=31), not by gzip.decompress (which
a naive reader would use and silently stop after member one).

HTTP wire layer: WARC stores the response bytes VERBATIM, so real
crawl payloads arrive chunked (Transfer-Encoding) and/or compressed
(Content-Encoding) — split_http_response undoes both in wire order
(dechunk, then inflate gzip/deflate in either dialect); brotli/zstd
refuse loudly by name (no codec in-repo).

Refuse-loudly contract (the pdf/avi/audio_meta/flac discipline): bad
magic, truncated blocks, missing Content-Length, or malformed header
lines raise ValueError naming the defect.  Error isolation is
two-level: structural archive failures surface as one rec_idx-null
error row, while payload-level failures (broken chunk framing, a
refused content coding) isolate to THAT record's row — one hostile
response never sinks the archive's other records.

The writer half (`encode_warc`) is the deterministic corpus/test
writer (the encode_avi / encode_mp4 / encode_flac pattern), emitting
spec-shaped warcinfo / request / response records with real HTTP
blocks, plain or per-record-gzipped.

Scale shape: archives are the scan unit (one row per .warc file,
100s of MB each at crawl scale); parsing is a row-local 1:N
mapInPandas fan-out — zero shuffle, payload bytes never leave the
scan task, and downstream gets (url, mime, payload) rows it can
route exactly like the media pipeline routes spans.
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Iterator

from pyspark.sql import DataFrame

from ..operators.rows import map_rows

__all__ = ["encode_warc", "gunzip_members", "iter_warc_records",
           "split_http_response", "warc_records", "warc_record_rows"]

_CRLF = b"\r\n"


def gunzip_members(data: bytes) -> bytes:
    """Inflate a concatenation of gzip members (the .warc.gz layout).
    Loud ValueError on a corrupt member or trailing non-gzip bytes."""
    out = bytearray()
    rest = bytes(data)
    while rest:
        if rest[:2] != b"\x1f\x8b":
            raise ValueError("warc.gz: trailing non-gzip bytes")
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(rest)
            out += d.flush()
        except zlib.error as exc:
            raise ValueError(f"warc.gz: corrupt gzip member: {exc}")
        if not d.eof:
            raise ValueError("warc.gz: truncated gzip member")
        rest = d.unused_data
    return bytes(out)


def _parse_headers(data: bytes, pos: int) -> tuple[dict, int]:
    """Parse `Name: value` lines up to the blank line; returns
    (lower-cased header dict, offset past the blank line)."""
    headers: dict[str, str] = {}
    while True:
        nl = data.find(_CRLF, pos)
        if nl < 0:
            raise ValueError("warc: truncated header block")
        line = data[pos:nl]
        pos = nl + 2
        if not line:
            return headers, pos
        colon = line.find(b":")
        if colon <= 0:
            raise ValueError(f"warc: malformed header line {line[:40]!r}")
        headers[line[:colon].strip().lower().decode("ascii", "replace")] = (
            line[colon + 1:].strip().decode("utf-8", "replace"))


def iter_warc_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Yield (warc_headers, block_bytes) per record.  Accepts plain or
    .warc.gz (per-record gzip members) input."""
    data = bytes(data)
    if data[:2] == b"\x1f\x8b":
        data = gunzip_members(data)
    pos = 0
    while pos < len(data):
        nl = data.find(_CRLF, pos)
        if nl < 0:
            raise ValueError("warc: truncated version line")
        version = data[pos:nl]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"warc: bad record magic {version[:20]!r}")
        headers, body_start = _parse_headers(data, nl + 2)
        if "content-length" not in headers:
            raise ValueError("warc: record missing Content-Length")
        try:
            n = int(headers["content-length"])
        except ValueError:
            raise ValueError("warc: non-integer Content-Length")
        body_end = body_start + n
        if body_end > len(data):
            raise ValueError("warc: block overruns the archive")
        yield headers, data[body_start:body_end]
        if data[body_end:body_end + 4] not in (b"\r\n\r\n", b""):
            raise ValueError("warc: missing record separator")
        pos = body_end + 4


def _dechunk(body: bytes) -> bytes:
    """Reassemble a Transfer-Encoding: chunked body (RFC 9112 §7.1):
    hex size line (chunk extensions after ';' ignored), CRLF, data,
    CRLF, …, 0-size terminator (trailer fields ignored).  Loud
    ValueError on truncation or malformed size lines — a half-dechunked
    page must never flow onward as if it were the document."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(_CRLF, pos)
        if nl < 0:
            raise ValueError("warc: chunked body missing size line")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        try:
            size = int(size_tok, 16)
        except ValueError:
            raise ValueError(
                f"warc: bad chunk size line {size_tok[:16]!r}"
            )
        pos = nl + 2
        if size == 0:
            return bytes(out)
        if pos + size + 2 > len(body):
            raise ValueError("warc: chunked body truncated")
        out += body[pos:pos + size]
        pos += size
        if body[pos:pos + 2] != _CRLF:
            raise ValueError("warc: chunk data missing CRLF terminator")
        pos += 2


MAX_BODY_BYTES = 64 * 1024 * 1024  # decoded entity-body cap per record


def _decode_content(payload: bytes, encoding: str) -> bytes:
    """Undo Content-Encoding.  gzip/x-gzip and deflate (both the
    correct zlib-wrapped form and the bare-DEFLATE form real servers
    ship under the same name) decode; identity passes through;
    anything else (br, zstd, compress) refuses loudly by name — the
    codec is absent and silently-raw bytes would poison the charset
    and main-content stages downstream.

    Completeness is CHECKED, not assumed: a gzip stream truncated
    mid-member raises (a partial page must never flow onward with
    error=None), multi-member bodies decode every member, and the
    decoded size is capped at MAX_BODY_BYTES so a hostile bomb cannot
    balloon a task."""
    enc = encoding.strip().lower()
    if enc in ("", "identity"):
        return payload
    if enc in ("gzip", "x-gzip"):
        out = bytearray()
        rest = payload
        while rest:
            d = zlib.decompressobj(16 + zlib.MAX_WBITS)
            out += d.decompress(rest, MAX_BODY_BYTES + 1 - len(out))
            if len(out) > MAX_BODY_BYTES:
                raise ValueError("warc: decoded body over 64 MB")
            if not d.eof:
                raise ValueError(
                    "warc: gzip content-encoding truncated mid-stream"
                )
            rest = d.unused_data
        return bytes(out)
    if enc == "deflate":
        try:
            d = zlib.decompressobj()
            out = d.decompress(payload, MAX_BODY_BYTES + 1)
        except zlib.error:
            d = zlib.decompressobj(-zlib.MAX_WBITS)
            out = d.decompress(payload, MAX_BODY_BYTES + 1)
        if len(out) > MAX_BODY_BYTES:
            raise ValueError("warc: decoded body over 64 MB")
        if not d.eof:
            raise ValueError(
                "warc: deflate content-encoding truncated mid-stream"
            )
        return out
    raise ValueError(f"warc: content-encoding {enc!r} unsupported")


def split_http_response(block: bytes) -> tuple[int, str, str, bytes]:
    """(status_code, mime, full content-type, payload) from an HTTP
    response block.  The FULL Content-Type is kept alongside the bare
    mime because its charset parameter feeds the text-decode resolver
    (functions/charset.py).  The payload is the DECODED entity body:
    Transfer-Encoding: chunked is reassembled and Content-Encoding
    gzip/deflate inflated (both the layouts a real crawl records —
    WARC stores the wire bytes verbatim).  Loud ValueError on a
    malformed status line, broken chunking, or a codec this engine
    does not carry (br/zstd)."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("warc: http block has no header terminator")
    head = block[:sep]
    nl = head.find(_CRLF)
    status_line = head[:nl if nl >= 0 else len(head)]
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"warc: bad http status line {status_line[:40]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError("warc: non-integer http status")
    ctype = transfer = cenc = ""
    for line in head[nl + 2:].split(_CRLF) if nl >= 0 else []:
        low = line.lower()
        if low.startswith(b"content-type:"):
            ctype = line.split(b":", 1)[1].strip().decode("ascii", "replace")
        elif low.startswith(b"transfer-encoding:"):
            transfer = low.split(b":", 1)[1].strip().decode("ascii", "replace")
        elif low.startswith(b"content-encoding:"):
            cenc = low.split(b":", 1)[1].strip().decode("ascii", "replace")
    mime = ctype.split(";")[0].strip()
    payload = block[sep + 4:]
    if "chunked" in transfer:
        payload = _dechunk(payload)
    payload = _decode_content(payload, cenc)
    return status, mime, ctype, payload


WARC_RECORDS_SCHEMA = (
    "warc_ref string, rec_idx int, warc_type string, url string,"
    " date string, http_status int, mime string, payload_len long,"
    " payload_md5 string, error string"
)


def warc_record_rows(ref: str, data: bytes) -> list[dict]:
    """One archive's typed record rows — shared verbatim by the Spark
    UDF and the golden generator.  The payload crosses as (length,
    md5), never raw bytes (the hash contract every media query uses).
    Error isolation is two-level: a structurally-broken archive
    (bad magic, truncated block) yields ONE rec_idx-null error row,
    while a PAYLOAD-level failure inside one record (broken chunked
    framing, a content-encoding this engine refuses) isolates to that
    record's row — one hostile response must not sink the archive's
    other records (P1 applied at record grain)."""
    rows: list[dict] = []
    base = dict(warc_ref=ref, rec_idx=None, warc_type=None, url=None,
                date=None, http_status=None, mime=None,
                payload_len=None, payload_md5=None, error=None)
    try:
        for i, (hdrs, block) in enumerate(iter_warc_records(data)):
            row = dict(base, rec_idx=i,
                       warc_type=hdrs.get("warc-type"),
                       url=hdrs.get("warc-target-uri"),
                       date=hdrs.get("warc-date"))
            if hdrs.get("warc-type") == "response":
                try:
                    status, mime, _ctype, payload = \
                        split_http_response(block)
                    row.update(http_status=status, mime=mime,
                               payload_len=len(payload),
                               payload_md5=hashlib.md5(payload)
                               .hexdigest())
                except Exception as exc:
                    row["error"] = str(exc)
            else:
                row.update(payload_len=len(block),
                           payload_md5=hashlib.md5(block).hexdigest())
            rows.append(row)
    except Exception as exc:
        rows.append(dict(base, error=str(exc)))
    return rows


def http_location(block: bytes) -> str | None:
    """The Location header of an HTTP response block (redirect
    target), None when absent."""
    sep = block.find(b"\r\n\r\n")
    head = block[: sep if sep >= 0 else len(block)]
    for line in head.split(_CRLF)[1:]:
        if line.lower().startswith(b"location:"):
            return line.split(b":", 1)[1].strip().decode(
                "latin-1", "replace")
    return None


WARC_REDIRECTS_SCHEMA = (
    "warc_ref string, rec_idx int, url string, http_status int,"
    " location string, error string"
)


def _http_status(block: bytes) -> int:
    """Status code from the response head ONLY — no body decode, so a
    refused content coding on a non-3xx page cannot error a query that
    never needed its payload."""
    nl = block.find(_CRLF)
    status_line = block[: nl if nl >= 0 else len(block)]
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(
            f"warc: bad http status line {status_line[:40]!r}"
        )
    try:
        return int(parts[1])
    except ValueError:
        raise ValueError("warc: non-integer http status") from None


def warc_redirect_rows(ref: str, data: bytes) -> list[dict]:
    """One archive's redirect EDGES — every 3xx response's
    (url -> Location) pair, the crawl-graph edges a frontier follows
    (and dedups against) next to sitemap/robots discovery.  A 3xx
    without a Location header is itself a data point (location null).
    Only the response HEAD is parsed (status line + headers) — payload
    codings never run, so a brotli page cannot error this query.
    Same two-level error isolation as warc_record_rows."""
    rows: list[dict] = []
    base = dict(warc_ref=ref, rec_idx=None, url=None, http_status=None,
                location=None, error=None)
    try:
        for i, (hdrs, block) in enumerate(iter_warc_records(data)):
            if hdrs.get("warc-type") != "response":
                continue
            try:
                status = _http_status(block)
                if not 300 <= status <= 399:
                    continue
                loc = http_location(block)
            except Exception as exc:
                rows.append(dict(base, rec_idx=i,
                                 url=hdrs.get("warc-target-uri"),
                                 error=str(exc)))
                continue
            rows.append(dict(base, rec_idx=i,
                             url=hdrs.get("warc-target-uri"),
                             http_status=status, location=loc))
    except Exception as exc:
        rows.append(dict(base, error=str(exc)))
    return rows


def warc_records(archives: DataFrame) -> DataFrame:
    """Archive bytes -> typed record rows (1:N row-local fan-out,
    zero shuffle).  Input: (warc_ref string, bytes binary)."""
    return map_rows(archives, warc_record_rows, WARC_RECORDS_SCHEMA,
                    "warc_ref", "bytes")


WARC_MAIN_SCHEMA = (
    "warc_ref string, rec_idx int, url string, main_text string,"
    " n_chars long, charset string, charset_source string, error string"
)


def warc_main_rows(ref: str, data: bytes) -> list[dict]:
    """Archive -> main-content rows for every 200 text/html response:
    the crawl->curation composition (WARC parse + charset-resolved
    payload decode + the SAME DOM/flat boilerplate strip the
    extraction pipeline uses), fused into one row-local pass so the
    html payload never exists outside this function — not even as a
    column.  Each row carries its decode provenance (charset +
    which source resolved it: bom/http/meta/utf8-valid/fallback) so a
    curation gate can filter or re-weight by it.  Shared verbatim by
    the Spark UDF and the golden generator."""
    from .charset import decode_html
    from .text_extract import extract_main_content

    rows: list[dict] = []
    base = dict(warc_ref=ref, rec_idx=None, url=None, main_text=None,
                n_chars=None, charset=None, charset_source=None,
                error=None)
    try:
        for i, (hdrs, block) in enumerate(iter_warc_records(data)):
            if hdrs.get("warc-type") != "response":
                continue
            try:
                status, mime, ctype, payload = split_http_response(block)
                if status != 200 or mime != "text/html":
                    continue
                doc, charset, source = decode_html(ctype, payload)
                text = extract_main_content(doc)
            except Exception as exc:
                # payload-level failure isolates to the record (same
                # two-level contract as warc_record_rows)
                rows.append(dict(base, rec_idx=i,
                                 url=hdrs.get("warc-target-uri"),
                                 error=str(exc)))
                continue
            rows.append(dict(base, rec_idx=i,
                             url=hdrs.get("warc-target-uri"),
                             main_text=text, n_chars=len(text),
                             charset=charset, charset_source=source))
    except Exception as exc:
        rows.append(dict(base, error=str(exc)))
    return rows


def warc_main_content(archives: DataFrame) -> DataFrame:
    """Archive bytes -> boilerplate-stripped main text per 200
    text/html response (row-local 1:N, zero shuffle)."""
    return map_rows(archives, warc_main_rows, WARC_MAIN_SCHEMA,
                    "warc_ref", "bytes")


# --- writer (deterministic corpus/test writer) ------------------------------

def _gzip_member(payload: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    # fixed mtime=0 via raw header: compressobj(wbits=31) already emits
    # mtime=0 — deterministic across runs
    return co.compress(payload) + co.flush()


def _record(rtype: str, headers: dict[str, str], block: bytes) -> bytes:
    out = bytearray(b"WARC/1.0\r\n")
    out += f"WARC-Type: {rtype}\r\n".encode()
    for k, v in headers.items():
        out += f"{k}: {v}\r\n".encode()
    out += f"Content-Length: {len(block)}\r\n".encode()
    out += b"\r\n" + block + b"\r\n\r\n"
    return bytes(out)


def _chunk_body(payload: bytes, chunk: int = 512) -> bytes:
    """Deterministic chunked-transfer framing of a body."""
    out = bytearray()
    for i in range(0, len(payload), chunk):
        piece = payload[i:i + chunk]
        out += f"{len(piece):x}\r\n".encode() + piece + _CRLF
    out += b"0\r\n\r\n"
    return bytes(out)


def encode_warc(records: list[dict], gzip_members: bool = False) -> bytes:
    """Deterministic WARC writer.  Each record dict:
      type: warcinfo | request | response | metadata
      url, date, record_id: WARC headers (optional)
      payload: block bytes for non-response records
      http_status, mime, payload: assembled into a real HTTP block
        for response records
      content_encoding: 'gzip' | 'deflate' | 'deflate-raw' (emitted
        under the name 'deflate', the bare-DEFLATE server bug) | 'br'
        (opaque bytes — the refusal class; no brotli codec in-repo)
      transfer_chunked: True frames the (encoded) body with chunked
        transfer coding — WARC stores wire bytes verbatim, so real
        crawl archives carry exactly this layout
    gzip_members=True emits the .warc.gz layout (one gzip member per
    record)."""
    out = bytearray()
    for i, r in enumerate(records):
        rtype = r["type"]
        hdrs: dict[str, str] = {
            "WARC-Record-ID": r.get(
                "record_id", f"<urn:uuid:rec-{i:08d}>"),
            "WARC-Date": r.get("date", "2026-01-01T00:00:00Z"),
        }
        if r.get("url"):
            hdrs["WARC-Target-URI"] = r["url"]
        if rtype == "response":
            payload = r.get("payload", b"")
            status = r.get("http_status", 200)
            reason = {200: "OK", 404: "Not Found",
                      301: "Moved Permanently"}.get(status, "X")
            extra = ""
            if r.get("location"):
                extra += f"Location: {r['location']}\r\n"
            cenc = r.get("content_encoding", "")
            if cenc in ("gzip", "x-gzip"):
                co = zlib.compressobj(6, zlib.DEFLATED, 31)
                payload = co.compress(payload) + co.flush()
                extra += f"Content-Encoding: {cenc}\r\n"
            elif cenc == "deflate":
                payload = zlib.compress(payload)
                extra += "Content-Encoding: deflate\r\n"
            elif cenc == "deflate-raw":
                co = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
                payload = co.compress(payload) + co.flush()
                extra += "Content-Encoding: deflate\r\n"
            elif cenc:  # br/zstd/...: opaque bytes under the name
                extra += f"Content-Encoding: {cenc}\r\n"
            if r.get("transfer_chunked"):
                payload = _chunk_body(payload)
                extra += "Transfer-Encoding: chunked\r\n"
            block = (
                f"HTTP/1.1 {status} {reason}\r\n"
                f"Content-Type: {r.get('mime', 'text/html')}\r\n"
                + extra
                + f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode() + payload
            hdrs["Content-Type"] = "application/http;msgtype=response"
        else:
            block = r.get("payload", b"")
        rec = _record(rtype, hdrs, block)
        out += _gzip_member(rec) if gzip_members else rec
    return bytes(out)
