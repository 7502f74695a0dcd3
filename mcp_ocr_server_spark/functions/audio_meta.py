"""Pure-stdlib audio CONTAINER metadata — the audio analogue of
functions/avi.py: no codec, real header/page/frame-structure work.

What is REAL here: format detection and the typed metadata a
training-data pipeline filters on BEFORE paying for decode (dedupe by
PCM md5, drop clips outside a duration/rate band, route by codec):

    wav         — RIFF fmt chunk (stdlib wave)
    flac        — STREAMINFO block: rate, channels, bits, exact total
                  samples => exact duration, and the 16-byte md5 of
                  the DECODED PCM (the dedup key libFLAC embeds)
    ogg/vorbis  — identification header (rate, channels) + the LAST
                  page's granule position => exact duration
    ogg/opus    — OpusHead (channels, pre-skip); granule is in 48 kHz
                  units per RFC 7845 regardless of input rate
    mp3         — first MPEG frame header (version/layer/bitrate/rate);
                  duration from a Xing/Info VBR header when present,
                  else an exact full frame-header walk, falling back
                  to the CBR estimate only for unwalkable streams
    adts/aac    — full ADTS frame-header walk (ISO 14496-3): profile,
                  rate index, channel config, both header layouts
                  (with/without CRC), raw-data-block counting => exact
                  duration; split from mp3 by the zero layer bits
    tags        — Vorbis comments (FLAC block 4 / Ogg comment packet),
                  ID3v2 text frames, RIFF LIST-INFO (audio_tags below)

What is NOT attempted: decompressing any codec bitstream — decode
stays behind multimodal._decode_audio's documented seam.  Unknown or
truncated payloads surface as error rows (refuse loudly, the pdf.py /
avi.py principle), never as silent zeros.
"""

from __future__ import annotations

import struct

# MPEG-1/2/2.5 Layer III bitrate (kbps) and sample-rate tables
_MP3_BITRATE = {
    (1, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
             256, 320],
    (2, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144,
             160],
}
_MP3_RATE = {1: [44100, 48000, 32000], 2: [22050, 24000, 16000],
             25: [11025, 12000, 8000]}


def _sniff_wav(data: bytes) -> dict:
    import io
    import wave

    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            rate = w.getframerate()
            n = w.getnframes()
            meta = dict(
                format="wav", codec="pcm_s%dle" % (8 * w.getsampwidth()),
                sample_rate=rate, channels=w.getnchannels(),
                duration_s=(n / rate) if rate else None, pcm_md5=None,
            )
    except ValueError:
        raise
    except Exception as exc:
        # contract: ValueError on malformed input, whatever the stdlib
        # wave/chunk internals raised — fuzzing surfaced wave.Error,
        # EOFError, struct.error AND a bare RuntimeError (wave.py:155),
        # so enumerating types is a losing game for a parser we don't
        # own; anything it throws on these bytes means malformed input
        raise ValueError(f"wav: truncated or malformed ({exc!r})") from exc
    if rate == 0:
        # stdlib wave validates channels/width but NOT framerate; a
        # declared rate of 0 must be an error row, not a silent zero
        # (the same rule flac/ogg already enforce)
        raise ValueError("wav: fmt chunk declares sample rate 0")
    return meta


def _sniff_flac(data: bytes) -> dict:
    # fLaC magic, then metadata blocks: 1-byte header (last<<7 | type),
    # 3-byte big-endian length.  STREAMINFO (type 0) must come first.
    if len(data) < 4 + 4 + 34:
        raise ValueError("flac: truncated before STREAMINFO")
    btype = data[4] & 0x7F
    (blen,) = struct.unpack(">I", b"\x00" + data[5:8])
    if btype != 0 or blen < 34:
        raise ValueError("flac: first block is not a 34-byte STREAMINFO")
    si = data[8:8 + 34]
    if len(si) < 34:
        raise ValueError("flac: truncated STREAMINFO")
    # [min/max blocksize u16 x2][min/max framesize u24 x2] then the
    # packed fields: 20b rate | 3b channels-1 | 5b bps-1 | 36b samples
    packed = int.from_bytes(si[10:18], "big")
    rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    if rate == 0:
        raise ValueError("flac: STREAMINFO sample rate is 0")
    return dict(
        format="flac", codec=f"flac_{bits}bit", sample_rate=rate,
        channels=channels,
        duration_s=(total / rate) if total else None,
        pcm_md5=si[18:34].hex(),
    )


def _ogg_last_granule(data: bytes) -> int:
    """Walk pages FORWARD by their encoded lengths (27-byte header +
    segment table + summed lacing values) and return the last complete
    page's granule position.  Byte-exact — unlike scanning backwards
    for the 'OggS' capture pattern, which Ogg does NOT escape inside
    packet bodies, so a payload containing those four bytes would
    yield a garbage granule.  Raises on structural corruption."""
    pos, granule = 0, -1
    while pos + 27 <= len(data):
        if data[pos:pos + 4] != b"OggS":
            raise ValueError(f"ogg: bad page capture at byte {pos}")
        if data[pos + 4] != 0:
            raise ValueError("ogg: unknown page version")
        n_segs = data[pos + 26]
        table_end = pos + 27 + n_segs
        if table_end > len(data):
            break  # truncated final page: keep the last complete one
        body_len = sum(data[pos + 27:table_end])
        if table_end + body_len > len(data):
            break
        (g,) = struct.unpack_from("<q", data, pos + 6)
        if g >= 0:  # -1 marks a page with no finished packet
            granule = g
        pos = table_end + body_len
    return granule


def _sniff_ogg(data: bytes) -> dict:
    # First page: 'OggS' v0 header (27 bytes) + seg table, then the
    # codec identification packet.
    if len(data) < 28:
        raise ValueError("ogg: truncated first page")
    n_segs = data[26]
    # Bound the id packet to the FIRST page's body (sum of its lacing
    # values, same walk as _ogg_last_granule).  An unbounded data[...:]
    # slice would read the NEXT page's header bytes as channels/rate
    # when a malformed first page carries an under-sized body —
    # returning garbage metadata instead of refusing loudly (ADVICE r4).
    body_len = sum(data[27:27 + n_segs])
    body = data[27 + n_segs:27 + n_segs + body_len]
    pre_skip = 0
    if body[:5] == b"\x7fFLAC":
        # FLAC-to-Ogg mapping: ident packet embeds the native 'fLaC'
        # magic + STREAMINFO at byte 9 — reuse the native sniffer,
        # then overlay container format + granule-derived duration.
        if len(body) < 13 + 4 + 34:
            raise ValueError("ogg/flac: truncated ident packet")
        info = _sniff_flac(body[9:])
        granule = _ogg_last_granule(data)
        if granule > 0:
            info["duration_s"] = granule / info["sample_rate"]
        info["format"] = "ogg"
        return info
    if body[:7] == b"\x01vorbis":
        if len(body) < 16:
            raise ValueError("ogg: truncated vorbis id header")
        channels = body[11]
        (rate,) = struct.unpack_from("<I", body, 12)
        gran_rate = rate
        codec = "vorbis"
    elif body[:8] == b"OpusHead":
        if len(body) < 16:
            raise ValueError("ogg: truncated OpusHead")
        channels = body[9]
        (pre_skip,) = struct.unpack_from("<H", body, 10)
        (rate,) = struct.unpack_from("<I", body, 12)  # input rate hint
        gran_rate = 48_000  # RFC 7845: granule is always 48 kHz
        codec = "opus"
    else:
        raise ValueError("ogg: unknown codec id packet")
    if rate == 0:
        raise ValueError(f"ogg/{codec}: sample rate is 0")
    # duration: last complete page's granule = end-of-stream PCM sample
    # count; opus subtracts the OpusHead pre-skip (RFC 7845 §4.2)
    granule = _ogg_last_granule(data)
    duration = None
    if granule > 0:
        duration = max(granule - pre_skip, 0) / gran_rate
    return dict(
        format="ogg", codec=codec, sample_rate=rate, channels=channels,
        duration_s=duration, pcm_md5=None,
    )


def _sniff_mp3(data: bytes) -> dict:
    # Skip an ID3v2 tag if present (10-byte header, syncsafe size)
    pos = 0
    if data[:3] == b"ID3" and len(data) >= 10:
        size = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
            | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
        pos = 10 + size
    # find the first frame sync (11 set bits)
    while pos + 4 <= len(data):
        if data[pos] == 0xFF and (data[pos + 1] & 0xE0) == 0xE0:
            break
        pos += 1
    else:
        raise ValueError("mp3: no frame sync found")
    b1, b2, b3 = data[pos + 1], data[pos + 2], data[pos + 3]
    ver_bits = (b1 >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer_bits = (b1 >> 1) & 0x3  # 1=Layer III
    version = {3: 1, 2: 2, 0: 25}.get(ver_bits)
    if version is None or layer_bits != 1:
        raise ValueError("mp3: unsupported version/layer")
    br_idx, sr_idx = (b2 >> 4) & 0xF, (b2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        raise ValueError("mp3: free-form/invalid bitrate or rate index")
    table = _MP3_BITRATE[(1, 3)] if version == 1 else _MP3_BITRATE[(2, 3)]
    bitrate = table[br_idx] * 1000
    rate = _MP3_RATE[version][sr_idx]
    mode = (b3 >> 6) & 0x3
    channels = 1 if mode == 3 else 2
    # duration, most-exact-first: (1) a Xing/Info VBR header's frame
    # count, (2) a full frame-header walk when it consumes the stream
    # cleanly (tail shorter than one frame), (3) the CBR estimate from
    # the first header — the only option for a stream whose body this
    # parser cannot walk (mid-stream corruption)
    spf = _SPF[version]
    xing = _mp3_xing_frames(data, pos, version, channels)
    if xing:
        duration = xing * spf / rate
    else:
        n_frames, end = _mp3_frame_walk(data, pos)
        min_flen = (144 if version == 1 else 72) * bitrate // rate
        if n_frames and len(data) - end < min_flen:
            duration = n_frames * spf / rate
        else:
            duration = (len(data) - pos) * 8 / bitrate
    return dict(
        format="mp3", codec=f"mp3v{version}", sample_rate=rate,
        channels=channels, duration_s=duration, pcm_md5=None,
    )


# ISO/IEC 13818-7 / 14496-3 ADTS sampling_frequency_index table
# (indices 12-14 reserved, 15 forbidden)
_ADTS_RATE = [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
              16000, 12000, 11025, 8000]
_ADTS_PROFILE = ("aac_main", "aac_lc", "aac_ssr", "aac_ltp")


def _sniff_adts(data: bytes) -> dict:
    """ADTS AAC elementary stream: full frame-header walk.  Each
    header carries the frame byte length and 1024-sample raw-data
    blocks, so the duration is EXACT — the same walked-duration
    contract as _sniff_mp3.  Mid-stream parameter changes, reserved
    rate indices, and truncation refuse loudly."""
    pos = 0
    blocks = 0
    rate = channels = profile = None
    while pos < len(data):
        if pos + 7 > len(data):
            raise ValueError("adts: truncated frame header")
        b = data[pos : pos + 7]
        if b[0] != 0xFF or (b[1] & 0xF6) != 0xF0:
            raise ValueError("adts: lost sync at frame boundary")
        sfi = (b[2] >> 2) & 0xF
        if sfi >= len(_ADTS_RATE):
            raise ValueError("adts: reserved sampling-frequency index")
        r = _ADTS_RATE[sfi]
        ch = ((b[2] & 1) << 2) | ((b[3] >> 6) & 3)
        if ch == 0:
            # channel_configuration 0 = defined in a PCE inside the
            # raw data block — that is codec-payload territory
            raise ValueError(
                "adts: channel configuration 0 (in-stream PCE)"
                " unsupported"
            )
        p = (b[2] >> 6) & 3
        frame_len = ((b[3] & 3) << 11) | (b[4] << 3) | (b[5] >> 5)
        header_len = 7 if (b[1] & 1) else 9  # CRC adds 2 bytes
        if frame_len < header_len:
            raise ValueError("adts: frame length shorter than header")
        if pos + frame_len > len(data):
            raise ValueError("adts: truncated frame payload")
        if rate is None:
            rate, channels, profile = r, ch, p
        elif (r, ch, p) != (rate, channels, profile):
            raise ValueError("adts: stream parameters change mid-file")
        blocks += (b[6] & 3) + 1  # raw_data_blocks_in_frame - 1
        pos += frame_len
    if rate is None:
        raise ValueError("adts: no frames")
    return dict(
        format="adts", codec=_ADTS_PROFILE[profile],
        sample_rate=rate, channels=channels,
        duration_s=blocks * 1024 / rate, pcm_md5=None,
    )


def sniff_audio(data: bytes) -> dict:
    """Typed container metadata for an opaque audio payload.  Returns
    dict(format, codec, sample_rate, channels, duration_s, pcm_md5);
    raises ValueError on unknown or truncated input."""
    data = bytes(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return _sniff_wav(data)
    if data[:4] == b"fLaC":
        return _sniff_flac(data)
    if data[:4] == b"OggS":
        return _sniff_ogg(data)
    if len(data) >= 12 and data[4:8] == b"ftyp":
        # ISO-BMFF (.m4a): box-table metadata via the shared mp4
        # walker; a video-only file refuses with "no audio track"
        from .mp4 import mp4_audio_metadata

        return mp4_audio_metadata(data)
    if data[:3] == b"ID3" and len(data) >= 10:
        # an ID3v2 block fronts BOTH mp3 and adts streams — peek past
        # it (syncsafe size) and re-dispatch on the first sync's layer
        # bits, so a tagged AAC file routes to the adts walk
        size = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
            | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
        after = 10 + size
        if (
            len(data) >= after + 7 and data[after] == 0xFF
            and (data[after + 1] & 0xF6) == 0xF0
        ):
            meta = _sniff_adts(data[after:])
            meta["format"] = "adts"
            return meta
        return _sniff_mp3(data)
    if (
        len(data) >= 7 and data[0] == 0xFF
        and (data[1] & 0xF6) == 0xF0
    ):
        # 0xFFF sync with LAYER bits 00: ADTS AAC — an mp3 frame sync
        # always carries non-zero layer bits, so the split is exact
        return _sniff_adts(data)
    if (
        len(data) >= 2 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0
    ):
        return _sniff_mp3(data)
    raise ValueError(
        f"unknown audio container (magic {data[:4]!r})"
    )


# ---------------------------------------------------------------------------
# embedded tag metadata (title/artist/album) — still pure container
# work: Vorbis comments (the shared FLAC/Ogg tag structure), ID3v2 text
# frames for mp3, RIFF LIST/INFO for wav.  A curation pipeline dedups
# and routes on these long before any PCM exists.

# RIFF INFO fourcc -> canonical tag key (the subset a pipeline uses)
_RIFF_INFO = {b"INAM": "title", b"IART": "artist", b"IPRD": "album"}
# ID3v2 text-frame ids (v2.3/v2.4)
_ID3_FRAMES = {b"TIT2": "title", b"TPE1": "artist", b"TALB": "album"}


def parse_vorbis_comments(payload: bytes) -> tuple[str, list]:
    """The Vorbis-comment structure (shared verbatim by FLAC block
    type 4 and the Ogg Vorbis comment packet): little-endian
    length-prefixed vendor string, then N length-prefixed KEY=value
    pairs.  Returns (vendor, [(key_lower, value), ...]); raises
    ValueError on truncation."""
    if len(payload) < 8:
        raise ValueError("vorbis comments: truncated header")
    (vlen,) = struct.unpack("<I", payload[:4])
    pos = 4 + vlen
    if pos + 4 > len(payload):
        raise ValueError("vorbis comments: truncated vendor string")
    vendor = payload[4:pos].decode("utf-8", "replace")
    (n,) = struct.unpack("<I", payload[pos : pos + 4])
    pos += 4
    if n > 10_000:
        raise ValueError("vorbis comments: implausible tag count")
    tags = []
    for _ in range(n):
        if pos + 4 > len(payload):
            raise ValueError("vorbis comments: truncated tag length")
        (ln,) = struct.unpack("<I", payload[pos : pos + 4])
        pos += 4
        if pos + ln > len(payload):
            raise ValueError("vorbis comments: truncated tag body")
        kv = payload[pos : pos + ln].decode("utf-8", "replace")
        pos += ln
        if "=" in kv:
            k, v = kv.split("=", 1)
            tags.append((k.lower(), v))
    return vendor, tags


def _flac_comment_block(data: bytes) -> bytes | None:
    """Payload of the VORBIS_COMMENT metadata block (type 4), walking
    the block chain after the STREAMINFO the sniffer validated."""
    pos = 4
    while pos + 4 <= len(data):
        head = data[pos]
        (blen,) = struct.unpack(">I", b"\x00" + data[pos + 1 : pos + 4])
        body = data[pos + 4 : pos + 4 + blen]
        if head & 0x7F == 4:
            if len(body) < blen:
                raise ValueError("flac: truncated VORBIS_COMMENT block")
            return body
        pos += 4 + blen
        if head & 0x80:  # last-metadata-block flag
            break
    return None


def _ogg_packet_pages(data: bytes) -> list[bytes]:
    """Per-page body bytes of an Ogg stream (enough for the header
    packets, which the spec requires to start their own pages)."""
    out = []
    pos = 0
    while True:
        pos = data.find(b"OggS", pos)
        if pos < 0 or pos + 27 > len(data):
            return out
        n_segs = data[pos + 26]
        lacing = data[pos + 27 : pos + 27 + n_segs]
        if len(lacing) < n_segs:
            return out
        blen = sum(lacing)
        body = data[pos + 27 + n_segs : pos + 27 + n_segs + blen]
        out.append(body)
        pos += 27 + n_segs + blen


def _id3v2_tags(data: bytes) -> list:
    """ID3v2.3/2.4 text frames (latin-1 or utf-16 encodings)."""
    if data[:3] != b"ID3" or len(data) < 10:
        return []
    ver = data[3]
    size = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
        | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
    end = min(10 + size, len(data))
    pos = 10
    tags = []
    while pos + 10 <= end:
        fid = data[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        raw = data[pos + 4 : pos + 8]
        if ver >= 4:  # v2.4 frame sizes are syncsafe
            flen = ((raw[0] & 0x7F) << 21) | ((raw[1] & 0x7F) << 14) \
                | ((raw[2] & 0x7F) << 7) | (raw[3] & 0x7F)
        else:
            (flen,) = struct.unpack(">I", raw)
        body = data[pos + 10 : pos + 10 + flen]
        pos += 10 + flen
        key = _ID3_FRAMES.get(fid)
        if key is None or not body:
            continue
        enc, text = body[0], body[1:]
        if enc == 0:
            val = text.decode("latin-1", "replace")
        elif enc == 1:
            val = text.decode("utf-16", "replace")
        elif enc == 3:
            val = text.decode("utf-8", "replace")
        else:
            continue
        tags.append((key, val.rstrip("\x00")))
    return tags


def _riff_info_tags(data: bytes) -> list:
    """LIST/INFO chunk of a RIFF/WAVE file (INAM/IART/IPRD)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return []
    tags = []
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"LIST" and body[:4] == b"INFO":
            p = 4
            while p + 8 <= len(body):
                sid = body[p : p + 4]
                (slen,) = struct.unpack("<I", body[p + 4 : p + 8])
                sval = body[p + 8 : p + 8 + slen]
                key = _RIFF_INFO.get(sid)
                if key is not None:
                    tags.append(
                        (key,
                         sval.rstrip(b"\x00").decode("latin-1", "replace"))
                    )
                p += 8 + slen + (slen & 1)  # RIFF even-byte padding
        pos += 8 + clen + (clen & 1)
    return tags


def audio_tags(data: bytes) -> dict:
    """Embedded tag metadata for an opaque audio payload: one row of
    (format, vendor, title, artist, album, n_tags).  Formats without a
    tag structure present return n_tags=0 with null fields (absence is
    data, not an error); unknown containers raise ValueError like
    sniff_audio."""
    vendor = None
    tags: list = []
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        fmt = "wav"
        tags = _riff_info_tags(data)
    elif data[:4] == b"fLaC":
        fmt = "flac"
        body = _flac_comment_block(data)
        if body is not None:
            vendor, tags = parse_vorbis_comments(body)
    elif data[:4] == b"OggS":
        fmt = "ogg"
        flac_mapped = False
        for body in _ogg_packet_pages(data):
            if body[:7] == b"\x03vorbis":
                vendor, tags = parse_vorbis_comments(body[7:])
                break
            if body[:8] == b"OpusTags":
                vendor, tags = parse_vorbis_comments(body[8:])
                break
            if body[:5] == b"\x7fFLAC":
                flac_mapped = True  # comment packet is the NEXT page
                continue
            if flac_mapped:
                # FLAC mapping: header packets are native metadata
                # blocks — the mandatory comment packet is type 4.
                # Anything else (audio frame sync, unknown block)
                # ends the header region tag-less.
                if body and (body[0] & 0x7F) == 4 and len(body) >= 4:
                    (blen,) = struct.unpack(">I", b"\x00" + body[1:4])
                    vendor, tags = parse_vorbis_comments(body[4:4 + blen])
                break
    elif len(data) >= 12 and data[4:8] == b"ftyp":
        fmt = "m4a"
        from .mp4 import m4a_ilst_tags

        tags = m4a_ilst_tags(data)
    elif data[:3] == b"ID3" or (
        len(data) >= 2 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0
    ):
        # ID3v2 serves both mp3 and ADTS AAC — label by the first
        # frame sync's layer bits (zero = ADTS), same split as
        # sniff_audio; the tag structure is identical
        fmt = "mp3"
        if data[:3] == b"ID3" and len(data) >= 10:
            size = ((data[6] & 0x7F) << 21) | ((data[7] & 0x7F) << 14) \
                | ((data[8] & 0x7F) << 7) | (data[9] & 0x7F)
            after = 10 + size
            if (
                len(data) >= after + 2 and data[after] == 0xFF
                and (data[after + 1] & 0xF6) == 0xF0
            ):
                fmt = "adts"
        elif (data[1] & 0xF6) == 0xF0:
            fmt = "adts"
        tags = _id3v2_tags(data)
    else:
        raise ValueError("audio tags: unknown container magic")
    by_key = {}
    for k, v in tags:
        by_key.setdefault(k, v)  # first occurrence wins (spec order)
    return dict(
        format=fmt, vendor=vendor,
        title=by_key.get("title"), artist=by_key.get("artist"),
        album=by_key.get("album"), n_tags=len(tags),
    )


# ---------------------------------------------------------------------------
# exact mp3 duration: full frame walk + Xing/Info VBR header

_SPF = {1: 1152, 2: 576, 25: 576}  # samples/frame, Layer III


def _mp3_frame_walk(data: bytes, pos: int) -> tuple[int, int]:
    """Walk consecutive MPEG frame headers from pos; returns
    (n_frames, bytes_consumed_end).  Stops at the first non-sync."""
    n = 0
    while pos + 4 <= len(data):
        if not (data[pos] == 0xFF and (data[pos + 1] & 0xE0) == 0xE0):
            break
        b1, b2 = data[pos + 1], data[pos + 2]
        ver_bits = (b1 >> 3) & 0x3
        version = {3: 1, 2: 2, 0: 25}.get(ver_bits)
        layer_bits = (b1 >> 1) & 0x3
        br_idx, sr_idx = (b2 >> 4) & 0xF, (b2 >> 2) & 0x3
        pad = (b2 >> 1) & 1
        if version is None or layer_bits != 1 or br_idx in (0, 15) \
                or sr_idx == 3:
            break
        table = _MP3_BITRATE[(1, 3)] if version == 1 \
            else _MP3_BITRATE[(2, 3)]
        bitrate = table[br_idx] * 1000
        rate = _MP3_RATE[version][sr_idx]
        coeff = 144 if version == 1 else 72
        flen = coeff * bitrate // rate + pad
        if flen < 4:
            break
        n += 1
        pos += flen
    return n, pos


def _mp3_xing_frames(data: bytes, pos: int, version: int,
                     channels: int) -> int | None:
    """Frame count from a Xing/Info VBR header in the first frame, at
    the canonical offset past the side-info block."""
    side = {(1, 2): 32, (1, 1): 17, (2, 2): 17, (2, 1): 9,
            (25, 2): 17, (25, 1): 9}[(version, channels)]
    at = pos + 4 + side
    if at + 12 > len(data):
        return None
    magic = data[at : at + 4]
    if magic not in (b"Xing", b"Info"):
        return None
    (flags,) = struct.unpack(">I", data[at + 4 : at + 8])
    if not flags & 0x1:  # frames field absent
        return None
    return struct.unpack(">I", data[at + 8 : at + 12])[0]
