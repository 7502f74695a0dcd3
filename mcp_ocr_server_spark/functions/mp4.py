"""REAL ISO-BMFF (mp4/mov) container-metadata parse — pure stdlib,
the video twin of functions/audio_meta.py's container sniffer and the
second real video container next to functions/avi.py.

Scope (container level, by design): box walk + the metadata a
pipeline needs to route/filter/dedup video BEFORE paying for any
codec decode — brand, movie duration (mvhd), and per-track handler /
codec fourcc (stsd) / dimensions (tkhd) / sample count (stsz).
Codec BITSTREAMS (avc1/hev1 NAL units) stay behind the documented
deterministic-fake seam in multimodal._decode_video_frames: entropy-
decoding H.264 is a real codec backend, the box structure is not.
webm/mkv (EBML magic) is detected and refused loudly — a distinct
error from "foreign payload", so the inventory can say WHICH
unsupported container it saw.

The writer half (`encode_mp4`) is the deterministic corpus/test
writer (the pattern of avi.encode_avi / flac.encode_flac /
synthetic.make_pdf15_bytes): a spec-shaped ftyp + moov(mvhd,
trak(tkhd, mdia(mdhd, hdlr, minf(stbl(stsd, stsz))))) + mdat tree
with real VisualSampleEntry layout, so parser tests round-trip
against independently-constructed structures rather than the
parser's own output.

Scale shape: per-clip work inside Arrow-batched mapInPandas
(multimodal.video_inventory) — headers parse in microseconds and the
payload bytes never leave the executor.
"""

from __future__ import annotations

import struct

__all__ = ["encode_mp4", "mp4_metadata", "parse_mp4_frames",
           "walk_boxes"]

_EBML_MAGIC = b"\x1a\x45\xdf\xa3"


def walk_boxes(data: bytes, start: int, end: int):
    """Yield (box_type, payload_start, payload_end) for the sibling
    boxes in data[start:end].  Loud ValueError on structural
    corruption (box overruns its parent, size below the header size,
    truncated largesize)."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("mp4: truncated box header")
        size = int.from_bytes(data[pos:pos + 4], "big")
        btype = data[pos + 4:pos + 8]
        payload = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("mp4: truncated largesize")
            size = int.from_bytes(data[pos + 8:pos + 16], "big")
            payload = pos + 16
        elif size == 0:
            size = end - pos
        if size < payload - pos or pos + size > end:
            raise ValueError(
                f"mp4: box {btype!r} overruns its parent")
        yield btype, payload, pos + size
        pos += size


def _full_box(data: bytes, payload: int) -> tuple[int, int]:
    """(version, first-field offset) of a FullBox payload."""
    return data[payload], payload + 4


def _parse_track(data: bytes, start: int, end: int) -> dict:
    tk: dict = {}
    for btype, p, e in walk_boxes(data, start, end):
        if btype == b"tkhd":
            ver, q = _full_box(data, p)
            # width/height are the LAST 8 bytes (16.16 fixed-point);
            # the 36-byte display matrix precedes them — its a/b
            # terms carry the phone-camera DISPLAY rotation
            mat = data[e - 44 : e - 8]
            if len(mat) == 36:
                import math

                vals = struct.unpack(">9i", mat)
                a, b = vals[0] / 65536.0, vals[1] / 65536.0
                ang = round(math.degrees(math.atan2(b, a))) % 360
                tk["rotation"] = ang if ang % 90 == 0 else None
            tk["width"] = int.from_bytes(data[e - 8:e - 4], "big") >> 16
            tk["height"] = int.from_bytes(data[e - 4:e], "big") >> 16
        elif btype == b"mdia":
            for b2, p2, e2 in walk_boxes(data, p, e):
                if b2 == b"mdhd":
                    ver, q = _full_box(data, p2)
                    if ver == 1:
                        ts = int.from_bytes(data[q + 16:q + 20], "big")
                        dur = int.from_bytes(data[q + 20:q + 28], "big")
                    else:
                        ts = int.from_bytes(data[q + 8:q + 12], "big")
                        dur = int.from_bytes(data[q + 12:q + 16], "big")
                    if ts:
                        tk["duration_s"] = dur / ts
                elif b2 == b"hdlr":
                    tk["handler"] = data[p2 + 8:p2 + 12].decode(
                        "ascii", "replace")
                elif b2 == b"minf":
                    for b3, p3, e3 in walk_boxes(data, p2, e2):
                        if b3 == b"stbl":
                            tk.update(_parse_stbl(data, p3, e3))
    return tk


def _parse_stbl(data: bytes, start: int, end: int) -> dict:
    out: dict = {}
    for btype, p, e in walk_boxes(data, start, end):
        if btype == b"stsd":
            _, q = _full_box(data, p)
            n = int.from_bytes(data[q:q + 4], "big")
            if n >= 1 and q + 12 <= e:
                out["codec"] = data[q + 8:q + 12].decode(
                    "ascii", "replace")
                # first sample-entry payload (past size+type) — the
                # audio path reads channelcount/samplerate from it
                out["entry_off"] = q + 12
                out["entry_end"] = min(
                    e, q + 4 + int.from_bytes(data[q + 4:q + 8], "big")
                )
        elif btype == b"stsz":
            _, q = _full_box(data, p)
            uniform = int.from_bytes(data[q:q + 4], "big")
            count = int.from_bytes(data[q + 4:q + 8], "big")
            out["n_samples"] = count
            if uniform:
                # metadata-only streams declare counts whose samples are
                # not in the file: expand only when demuxing
                out["uniform_size"] = uniform
            else:
                if q + 8 + 4 * count > e:
                    raise ValueError("mp4: stsz table truncated")
                out["sizes"] = [
                    int.from_bytes(data[q + 8 + 4 * i:q + 12 + 4 * i],
                                   "big")
                    for i in range(count)
                ]
        elif btype == b"stsc":
            _, q = _full_box(data, p)
            n = int.from_bytes(data[q:q + 4], "big")
            if q + 4 + 12 * n > e:
                raise ValueError("mp4: stsc table truncated")
            out["stsc"] = [
                (int.from_bytes(data[q + 4 + 12 * i:q + 8 + 12 * i],
                                "big"),
                 int.from_bytes(data[q + 8 + 12 * i:q + 12 + 12 * i],
                                "big"))
                for i in range(n)
            ]
        elif btype == b"stco":
            _, q = _full_box(data, p)
            n = int.from_bytes(data[q:q + 4], "big")
            if q + 4 + 4 * n > e:
                raise ValueError("mp4: stco table truncated")
            out["stco"] = [
                int.from_bytes(data[q + 4 + 4 * i:q + 8 + 4 * i], "big")
                for i in range(n)
            ]
        elif btype == b"co64":
            # 64-bit chunk offsets (files past 4 GiB): recorded so the
            # demuxer can refuse them by name; metadata never reads them
            out["co64"] = True
    return out


def mp4_metadata(data: bytes) -> dict:
    """dict(brand, duration_s, n_tracks, and — from the first video
    track — codec, width, height, n_frames).  Loud ValueError on
    EBML (webm/mkv), foreign payloads, or structural corruption."""
    data = bytes(data)
    if data[:4] == _EBML_MAGIC:
        raise ValueError("webm/mkv: EBML container parse not supported")
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("mp4: no ftyp box")
    meta: dict = {"n_tracks": 0}
    saw_moov = False
    for btype, p, e in walk_boxes(data, 0, len(data)):
        if btype == b"ftyp":
            meta["brand"] = data[p:p + 4].decode("ascii", "replace")
        elif btype == b"moov":
            saw_moov = True
            for b2, p2, e2 in walk_boxes(data, p, e):
                if b2 == b"mvhd":
                    ver, q = _full_box(data, p2)
                    if ver == 1:
                        ts = int.from_bytes(data[q + 16:q + 20], "big")
                        dur = int.from_bytes(data[q + 20:q + 28], "big")
                    else:
                        ts = int.from_bytes(data[q + 8:q + 12], "big")
                        dur = int.from_bytes(data[q + 12:q + 16], "big")
                    if ts == 0:
                        raise ValueError("mp4: mvhd timescale is 0")
                    meta["duration_s"] = dur / ts
                elif b2 == b"trak":
                    meta["n_tracks"] += 1
                    tk = _parse_track(data, p2, e2)
                    if (tk.get("handler") == "vide"
                            and "codec" not in meta):
                        meta["codec"] = tk.get("codec")
                        meta["width"] = tk.get("width")
                        meta["height"] = tk.get("height")
                        meta["n_frames"] = tk.get("n_samples")
                        meta["rotation"] = tk.get("rotation")
    if not saw_moov:
        raise ValueError("mp4: no moov box (streaming-only fragment?)")
    return meta


def mp4_audio_metadata(data: bytes) -> dict:
    """Audio-track metadata of an ISO-BMFF file (the .m4a shape):
    dict(format='m4a', codec, sample_rate, channels, duration_s,
    pcm_md5=None) from the first 'soun'-handler track — the
    AudioSampleEntry carries channelcount (offset 16) and a 16.16
    fixed-point samplerate (offset 24) past the 8-byte sample-entry
    base (ISO 14496-12 §12.2.3).  Loud ValueError when the file has
    no audio track or the entry is truncated."""
    data = bytes(data)
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("m4a: no ftyp box")
    for btype, p, e in walk_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for b2, p2, e2 in walk_boxes(data, p, e):
            if b2 != b"trak":
                continue
            tk = _parse_track(data, p2, e2)
            if tk.get("handler") != "soun":
                continue
            off = tk.get("entry_off")
            end = tk.get("entry_end", 0)
            if off is None or off + 28 > end:
                raise ValueError("m4a: AudioSampleEntry truncated")
            channels = int.from_bytes(data[off + 16:off + 18], "big")
            rate = int.from_bytes(data[off + 24:off + 28], "big") >> 16
            if channels < 1 or rate < 1:
                raise ValueError(
                    "m4a: zero channelcount or samplerate"
                )
            return dict(
                format="m4a", codec=tk.get("codec"),
                sample_rate=rate, channels=channels,
                duration_s=tk.get("duration_s"), pcm_md5=None,
            )
    raise ValueError("m4a: no audio ('soun') track")


# iTunes-style ilst metadata atoms -> the shared tag keys
_ILST_KEYS = {b"\xa9nam": "title", b"\xa9ART": "artist",
              b"\xa9alb": "album"}


def m4a_ilst_tags(data: bytes) -> list:
    """(key, value) pairs from the iTunes-style moov/udta/meta/ilst
    tree: each known atom's 'data' box carries 4 bytes type + 4 bytes
    locale, then UTF-8 text.  'meta' is a FULL box (version/flags
    before its children) — the walk accounts for it."""
    data = bytes(data)
    tags: list = []
    for btype, p, e in walk_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for b2, p2, e2 in walk_boxes(data, p, e):
            if b2 != b"udta":
                continue
            for b3, p3, e3 in walk_boxes(data, p2, e2):
                if b3 != b"meta":
                    continue
                for b4, p4, e4 in walk_boxes(data, p3 + 4, e3):
                    if b4 != b"ilst":
                        continue
                    for b5, p5, e5 in walk_boxes(data, p4, e4):
                        key = _ILST_KEYS.get(b5)
                        if key is None:
                            continue
                        for b6, p6, e6 in walk_boxes(data, p5, e5):
                            if b6 == b"data" and e6 - p6 > 8:
                                tags.append((key, data[p6 + 8:e6]
                                             .decode("utf-8",
                                                     "replace")))
    return tags


def encode_m4a(duration_s: float, rate: int = 44100,
               channels: int = 2, codec: bytes = b"mp4a",
               tags: dict | None = None) -> bytes:
    """Minimal deterministic .m4a writer: ftyp(M4A) + moov with one
    'soun' track (mdhd at the sample rate, hdlr, stsd AudioSampleEntry
    with channelcount + 16.16 samplerate, empty sample tables), an
    optional iTunes-style udta/meta/ilst tag tree, and an opaque
    mdat — header-structure work only, like encode_mp4."""
    n = int(round(duration_s * rate))
    entry = (
        b"\x00" * 6 + (1).to_bytes(2, "big")      # sample-entry base
        + b"\x00" * 8                              # reserved
        + channels.to_bytes(2, "big")
        + (16).to_bytes(2, "big")                  # samplesize
        + b"\x00" * 4                              # pre_defined/reserved
        + (rate << 16).to_bytes(4, "big")          # 16.16 samplerate
    )
    stsd = _full(b"stsd", 0, (1).to_bytes(4, "big")
                 + _box(codec, entry))
    stbl = _box(b"stbl", stsd
                + _full(b"stts", 0, (0).to_bytes(4, "big"))
                + _full(b"stsc", 0, (0).to_bytes(4, "big"))
                + _full(b"stsz", 0, b"\x00" * 8)
                + _full(b"stco", 0, (0).to_bytes(4, "big")))
    minf = _box(b"minf",
                _full(b"smhd", 0, b"\x00" * 4)
                + _box(b"dinf", _full(b"dref", 0,
                                      (1).to_bytes(4, "big")
                                      + _full(b"url ", 1, b"")))
                + stbl)
    mdhd = _full(b"mdhd", 0, (0).to_bytes(8, "big")
                 + rate.to_bytes(4, "big") + n.to_bytes(4, "big")
                 + b"\x55\xc4\x00\x00")
    hdlr = _full(b"hdlr", 0, b"\x00" * 4 + b"soun" + b"\x00" * 12
                 + b"SoundHandler\x00")
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    tkhd = _full(b"tkhd", 0, (0).to_bytes(8, "big")
                 + (1).to_bytes(4, "big") + b"\x00" * 4
                 + n.to_bytes(4, "big") + b"\x00" * 60)
    trak = _box(b"trak", tkhd + mdia)
    mvhd = _full(b"mvhd", 0, (0).to_bytes(8, "big")
                 + rate.to_bytes(4, "big") + n.to_bytes(4, "big")
                 + b"\x00" * 80)
    udta = b""
    if tags:
        rev = {v: k for k, v in _ILST_KEYS.items()}
        atoms = b""
        for key, val in tags.items():
            payload = (b"\x00\x00\x00\x01" + b"\x00" * 4
                       + val.encode("utf-8"))
            atoms += _box(rev[key], _box(b"data", payload))
        hdlr_m = _full(b"hdlr", 0, b"\x00" * 4 + b"mdir" + b"appl"
                       + b"\x00" * 9)
        udta = _box(b"udta", _box(
            b"meta", b"\x00\x00\x00\x00" + hdlr_m + _box(b"ilst", atoms)
        ))
    moov = _box(b"moov", mvhd + trak + udta)
    ftyp = _box(b"ftyp", b"M4A \x00\x00\x00\x00M4A mp42isom")
    mdat = _box(b"mdat", bytes(64))
    return ftyp + moov + mdat


def parse_mp4_frames(data: bytes) -> list[bytes]:
    """REAL sample demux for the first video track: expand the
    stsc/stsz/stco sample tables into per-sample byte ranges and slice
    the payloads out of mdat, in stream order — the mp4 analogue of
    avi.parse_avi_frames.  This is pure table walking (no codec); the
    returned payloads are whatever the track carries (PNG frames in
    the lossless-capture corpus, opaque NAL units for avc1/hev1).
    Loud ValueError on missing/truncated tables or ranges that
    overrun the file."""
    data = bytes(data)
    if data[:4] == _EBML_MAGIC:
        raise ValueError("webm/mkv: EBML container parse not supported")
    if len(data) < 12 or data[4:8] != b"ftyp":
        raise ValueError("mp4: no ftyp box")
    track = None
    for btype, p, e in walk_boxes(data, 0, len(data)):
        if btype != b"moov":
            continue
        for b2, p2, e2 in walk_boxes(data, p, e):
            if b2 == b"trak":
                tk = _parse_track(data, p2, e2)
                if tk.get("handler") == "vide":
                    track = tk
                    break
        if track:
            break
    if track is None:
        raise ValueError("mp4: no video track")
    if track.get("co64"):
        raise ValueError("mp4: co64 chunk offsets unsupported")
    sizes = track.get("sizes")
    if "uniform_size" in track:
        # every sample must lie in the file, so it bounds the count
        if track["uniform_size"] * track["n_samples"] > len(data):
            raise ValueError(
                "mp4: stsz declares more sample bytes than the file holds")
        sizes = [track["uniform_size"]] * track["n_samples"]
    stsc = track.get("stsc")
    stco = track.get("stco")
    if not sizes or not stsc or not stco:
        raise ValueError("mp4: video track has no sample tables")
    # expand stsc runs: entry i applies from first_chunk_i (1-based)
    # up to the next entry's first_chunk, so one forward pointer walks
    # the runs alongside the chunks (ISO/IEC 14496-12 8.7.4 requires
    # strictly increasing first_chunk)
    if any(a[0] >= b[0] for a, b in zip(stsc, stsc[1:])):
        raise ValueError("mp4: stsc first_chunk not strictly increasing")
    frames: list[bytes] = []
    si = 0
    run = -1
    for ci, off in enumerate(stco):
        while run + 1 < len(stsc) and stsc[run + 1][0] <= ci + 1:
            run += 1
        per_chunk = stsc[run][1] if run >= 0 else 0
        pos = off
        for _ in range(per_chunk):
            if si >= len(sizes):
                break
            sz = sizes[si]
            if pos + sz > len(data):
                raise ValueError("mp4: sample range overruns the file")
            frames.append(data[pos:pos + sz])
            pos += sz
            si += 1
    if si != len(sizes):
        raise ValueError(
            f"mp4: sample tables cover {si} of {len(sizes)} samples")
    return frames


# --- writer (deterministic corpus/test writer) ------------------------------

def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, payload: bytes) -> bytes:
    return _box(btype, bytes([version, 0, 0, 0]) + payload)


_UNITY_MATRIX = struct.pack(
    ">9I", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000
)


def _visual_sample_entry(codec: bytes, width: int, height: int) -> bytes:
    body = (
        b"\x00" * 6 + struct.pack(">H", 1)        # reserved + data_ref
        + b"\x00" * 16                              # predefined/reserved
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + b"\x00" * 4 + struct.pack(">H", 1)       # reserved + frames
        + b"\x00" * 32                              # compressor name
        + struct.pack(">Hh", 24, -1)               # depth, predefined
    )
    return _box(codec, body)


def encode_mp4(duration_s: float, timescale: int = 1000,
               codec: bytes = b"avc1", width: int = 640,
               height: int = 360, n_frames: int = 48,
               mdat: bytes = b"\x00" * 64,
               frames: list[bytes] | None = None,
               rotation: int = 0) -> bytes:
    """Minimal spec-shaped mp4: ftyp + moov(mvhd, one video trak) +
    mdat.  With `frames`, the mdat carries the concatenated frame
    payloads and the trak gets REAL stsc/stsz/stco sample tables
    (one chunk, per-sample sizes, absolute chunk offset) so
    parse_mp4_frames can demux them back; without it, the mdat is
    opaque filler and stsz records a uniform-size sample count
    (metadata-only stream)."""
    if frames is not None:
        n_frames = len(frames)
        mdat = b"".join(frames)
    dur = int(round(duration_s * timescale))
    mvhd = _full(b"mvhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, dur)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\x00" * 8 + _UNITY_MATRIX + b"\x00" * 24
        + struct.pack(">I", 2))
    if rotation % 360 == 0:
        matrix = _UNITY_MATRIX
    else:
        import math

        th = math.radians(rotation % 360)
        fx = int(round(math.cos(th) * 65536))
        fy = int(round(math.sin(th) * 65536))
        matrix = struct.pack(">9i", fx, fy, 0, -fy, fx, 0, 0, 0,
                             0x40000000)
    tkhd = _full(b"tkhd", 0, struct.pack(
        ">IIIII", 0, 0, 1, 0, dur)
        + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
        + matrix
        + struct.pack(">II", width << 16, height << 16))
    mdhd = _full(b"mdhd", 0, struct.pack(
        ">IIII", 0, 0, timescale, dur)
        + struct.pack(">HH", 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, struct.pack(
        ">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00")
    stsd = _full(b"stsd", 0, struct.pack(">I", 1)
                 + _visual_sample_entry(codec, width, height))
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512)
                + b"isomiso2mp41")

    def build_moov(mdat_payload_off: int) -> bytes:
        if frames is not None:
            stsz = _full(b"stsz", 0, struct.pack(">II", 0, n_frames)
                         + b"".join(struct.pack(">I", len(f))
                                    for f in frames))
            stsc = _full(b"stsc", 0, struct.pack(">I", 1)
                         + struct.pack(">III", 1, n_frames, 1))
            stco = _full(b"stco", 0, struct.pack(">II", 1,
                                                 mdat_payload_off))
            stbl = _box(b"stbl", stsd + stsc + stsz + stco)
        else:
            stsz = _full(b"stsz", 0, struct.pack(">II", 999, n_frames))
            stbl = _box(b"stbl", stsd + stsz)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        return _box(b"moov", mvhd + trak)

    # two-pass: moov's length is independent of the offset VALUE
    # stored in stco, so size it with a placeholder first
    moov_len = len(build_moov(0))
    moov = build_moov(len(ftyp) + moov_len + 8)
    return ftyp + moov + _box(b"mdat", mdat)
