"""SRT / WebVTT subtitle extraction — the transcript text a
training-data pipeline harvests alongside video (captions are the
richest aligned text most video carries).  Reference parity: none
(mcp-ocr-server has no video surface); scale-pipeline extension like
the rest of the media family.

What is REAL here: both cue formats parsed completely from scratch —
SRT's numbered blocks with comma-millisecond timestamps, WebVTT's
header/NOTE/STYLE blocks, optional cue identifiers, dot-millisecond
timestamps with optional cue settings after the arrow, and inline
markup (<i>, <b>, <v Speaker>, <c.class>, timestamps tags) stripped
to the spoken text.  Timestamps become exact float seconds; cue
ORDER is preserved (the alignment signal).

Refuse-loudly contract: unknown payloads and malformed timestamps
raise ValueError (callers map to error rows); a BOM or CRLF line
endings are data, not errors.  Inputs are bytes decoded as UTF-8
with latin-1 fallback (subtitle files predate charset discipline).
"""

from __future__ import annotations

import re

_SRT_TS = re.compile(
    r"(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3})\s*-->\s*"
    r"(\d{1,2}):(\d{2}):(\d{2})[,.](\d{3})"
)
# WebVTT allows MM:SS.mmm (hours omitted)
_VTT_TS = re.compile(
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})\.(\d{3})\s*-->\s*"
    r"(?:(\d{1,2}):)?(\d{2}):(\d{2})\.(\d{3})"
)
_TAG = re.compile(r"<[^>]*>")


def _decode(data: bytes) -> str:
    if data[:3] == b"\xef\xbb\xbf":
        data = data[3:]
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return data.decode("latin-1")


def _secs(h: str | None, m: str, s: str, ms: str) -> float:
    # ONE division: summing int + ms/1000 floats lands on a different
    # double than the writer's round(x, 3) for e.g. 4.940 — exact
    # integer milliseconds divided once always matches
    total_ms = (int(h or 0) * 3600000 + int(m) * 60000
                + int(s) * 1000 + int(ms))
    return total_ms / 1000.0


def _clean(lines: list[str]) -> str:
    text = "\n".join(_TAG.sub("", ln).strip() for ln in lines)
    return text.strip()


def parse_srt(text: str) -> list[dict]:
    """SRT cue list: blank-line-separated blocks of
    [index] / timestamp-arrow / text-lines.  The numeric index line
    is optional per real-world practice; a block whose arrow line
    does not parse raises (refuse loudly, never silent drops)."""
    cues: list[dict] = []
    blocks = re.split(r"(?:\r?\n){2,}", text.strip())
    for block in blocks:
        lines = [ln for ln in block.split("\n")]
        lines = [ln.rstrip("\r") for ln in lines if ln.strip()]
        if not lines:
            continue
        if re.fullmatch(r"\d+", lines[0]) and len(lines) > 1:
            lines = lines[1:]
        m = _SRT_TS.match(lines[0])
        if m is None:
            raise ValueError(
                f"srt: cue {len(cues)}: bad timestamp line"
                f" {lines[0][:40]!r}"
            )
        g = m.groups()
        start = _secs(g[0], g[1], g[2], g[3])
        end = _secs(g[4], g[5], g[6], g[7])
        if end < start:
            raise ValueError(f"srt: cue {len(cues)}: end before start")
        cues.append(dict(
            cue_idx=len(cues), start_s=start, end_s=end,
            text=_clean(lines[1:]),
        ))
    return cues


def parse_vtt(text: str) -> list[dict]:
    """WebVTT cue list: the WEBVTT header line, then blocks — NOTE /
    STYLE / REGION blocks are skipped, an optional cue identifier
    line precedes the timestamp arrow, cue settings after the arrow
    are ignored, inline markup is stripped."""
    body = text.lstrip("﻿")
    if not body.startswith("WEBVTT"):
        raise ValueError("vtt: missing WEBVTT header")
    blocks = re.split(r"(?:\r?\n){2,}", body.strip())
    cues: list[dict] = []
    for block in blocks[1:] if blocks and blocks[0].startswith(
            "WEBVTT") else blocks:
        lines = [ln.rstrip("\r") for ln in block.split("\n")
                 if ln.strip()]
        if not lines:
            continue
        if lines[0].split(" ")[0] in ("NOTE", "STYLE", "REGION"):
            continue
        ts_at = 0
        if "-->" not in lines[0]:
            ts_at = 1  # cue identifier line
            if len(lines) < 2 or "-->" not in lines[1]:
                raise ValueError(
                    f"vtt: cue {len(cues)}: no timestamp arrow"
                )
        m = _VTT_TS.match(lines[ts_at])
        if m is None:
            raise ValueError(
                f"vtt: cue {len(cues)}: bad timestamp line"
                f" {lines[ts_at][:40]!r}"
            )
        g = m.groups()
        start = _secs(g[0], g[1], g[2], g[3])
        end = _secs(g[4], g[5], g[6], g[7])
        if end < start:
            raise ValueError(f"vtt: cue {len(cues)}: end before start")
        cues.append(dict(
            cue_idx=len(cues), start_s=start, end_s=end,
            text=_clean(lines[ts_at + 1:]),
        ))
    return cues


def parse_subtitles(data: bytes) -> tuple[str, list[dict]]:
    """(format, cues) — WEBVTT by its header, TTML by its <tt> root
    (with or without an XML prolog), else SRT when the first block
    carries an SRT arrow; anything else refuses naming what was
    seen."""
    text = _decode(bytes(data))
    stripped = text.lstrip("﻿").lstrip()
    if stripped.startswith("WEBVTT"):
        return "vtt", parse_vtt(text)
    head = stripped[:256]
    if head.startswith("<?xml") or head.startswith("<tt"):
        if re.search(r"<tt[\s>]", head) is None:
            raise ValueError("xml payload without a <tt> root")
        return "ttml", parse_ttml(text)
    if _SRT_TS.search(head):
        return "srt", parse_srt(text)
    raise ValueError(
        f"unknown subtitle payload (head {stripped[:24]!r})"
    )


def subtitle_rows(ref: str, data: bytes) -> list[dict]:
    """Cue rows for one payload — shared VERBATIM by the Spark stage
    (queries.q_subtitle_cues) and the golden-fixture generator.
    Document-level failures yield ONE error row with null cue
    fields; a VALID file with zero cues yields one null-cue data row
    (absence is data)."""
    try:
        fmt, cues = parse_subtitles(bytes(data))
    except Exception as exc:
        return [dict(media_ref=ref, format=None, cue_idx=None,
                     start_s=None, end_s=None, text=None,
                     error=str(exc))]
    if not cues:
        return [dict(media_ref=ref, format=fmt, cue_idx=None,
                     start_s=None, end_s=None, text=None, error=None)]
    return [dict(media_ref=ref, format=fmt, error=None, **c)
            for c in cues]


# TTML (TTAF/IMSC — the broadcast/streaming-service caption XML):
# <p begin="..." end="..."> cues inside <tt>.  Clock times are
# HH:MM:SS(.fff) or offset times like "3.5s"/"1500ms"; nested spans
# flatten to text with <br/> as a line break.

_TTML_CLOCK = re.compile(r"^(\d{1,2}):(\d{2}):(\d{2})(?:\.(\d{1,3}))?$")
_TTML_OFFSET = re.compile(r"^(\d+(?:\.\d+)?)(h|m|s|ms)$")
_TTML_P = re.compile(
    r"<p\b([^>]*)>(.*?)</p>", re.S | re.I,
)
_TTML_ATTR = re.compile(r"""(begin|end)\s*=\s*["']([^"']*)["']""", re.I)


def _ttml_secs(tok: str) -> float:
    m = _TTML_CLOCK.match(tok.strip())
    if m is not None:
        h, mi, s, frac = m.groups()
        ms = int((frac or "0").ljust(3, "0")[:3])
        return _secs(h, mi, s, str(ms))
    m = _TTML_OFFSET.match(tok.strip())
    if m is not None:
        v = float(m.group(1))
        return {"h": 3600.0, "m": 60.0, "s": 1.0,
                "ms": 0.001}[m.group(2)] * v
    raise ValueError(f"ttml: bad time expression {tok!r}")


def parse_ttml(text: str) -> list[dict]:
    """TTML cue list: every <p> carrying begin/end attributes, in
    document order; <br/> becomes a newline, other markup is
    stripped, XML entities decoded."""
    cues: list[dict] = []
    for m in _TTML_P.finditer(text):
        attrs = dict(
            (k.lower(), v) for k, v in _TTML_ATTR.findall(m.group(1))
        )
        if "begin" not in attrs or "end" not in attrs:
            continue  # layout/metadata paragraphs carry no timing
        start = _ttml_secs(attrs["begin"])
        end = _ttml_secs(attrs["end"])
        if end < start:
            raise ValueError(f"ttml: cue {len(cues)}: end before start")
        body = re.sub(r"<br\s*/?>", "\n", m.group(2), flags=re.I)
        body = _TAG.sub("", body)
        body = (body.replace("&amp;", "&").replace("&lt;", "<")
                .replace("&gt;", ">").replace("&quot;", '"')
                .replace("&apos;", "'"))
        cues.append(dict(
            cue_idx=len(cues), start_s=start, end_s=end,
            text="\n".join(ln.strip() for ln in body.split("\n"))
                 .strip(),
        ))
    return cues
