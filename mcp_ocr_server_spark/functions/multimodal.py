"""Multimodal column handling: opaque binary media + typed metadata.

Images are FIRST-CLASS here (the whole engine is an image pipeline:
decode via imaging/png.py, features via imaging/kernels.py).  Audio and
video are treated the way a 100 TB training-data pipeline treats them:
opaque `binary` columns + typed metadata structs, processed by
Arrow-batched `mapInPandas` stages.  This container ships no
audio/video codecs; WAV audio decodes for REAL (pure stdlib+numpy,
like the PNG codec), FLAC audio decodes for REAL (functions/flac.py —
lossless integer bitstream, no codec backend needed, CRC/MD5
self-verified) and AVI containers demux for real (functions/avi.py),
and mp4 containers parse for real at the metadata level
(functions/mp4.py — ISO-BMFF box walk: brand/duration/codec/dims/
frame count), while the remaining compressed-codec BITSTREAM decode
(mp3/ogg-vorbis MDCT synthesis, mp4 NAL-unit / webm frame demux) is
a clearly-marked deterministic fake — applied UNCONDITIONALLY to those
formats (not import-gated), so committed goldens keep their meaning
regardless of what happens to be installed; wiring a real backend is
a deliberate code change re-goldened in the same commit.  Everything
Spark-side (schemas, batch shapes, partitioning, UDF signatures) is
real and tested either way.

Schemas:
    media(media_ref string, kind string, bytes binary,
          meta struct<mime:string, width:int, height:int,
                      duration_s:double, sample_rate:int>)

Stages (each a mapInPandas over an Arrow batch iterator):
    image_features       — REAL: decode PNG -> quality metrics + dims
    audio_features       — REAL for WAV (stdlib wave + numpy) and
                           FLAC (functions/flac.py); stub for
                           mp3/ogg-vorbis -> energy summary
    video_keyframes      — REAL frame extraction for AVI
                           (functions/avi.py) AND mp4 sample tables
                           (functions/mp4.py); webm/foreign refuse
                           loudly as error rows
    video_frame_features — REAL frame-sample -> PNG pixel decode ->
                           analyzer metrics per sampled frame
    video_inventory      — REAL container-metadata sniff for AVI
                           (RIFF walk), mp4 (ISO-BMFF box walk), and
                           webm/matroska (EBML walk, functions/
                           mkv.py); foreign payloads are error rows
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from ..operators.rows import map_rows

MEDIA_SCHEMA = (
    "media_ref string, kind string, bytes binary,"
    " meta struct<mime:string, width:int, height:int,"
    " duration_s:double, sample_rate:int>"
)

IMAGE_FEATURES_SCHEMA = (
    "media_ref string, width int, height int, sharpness double,"
    " contrast double, brightness double, error string"
)

AUDIO_FEATURES_SCHEMA = (
    "media_ref string, n_samples long, rms double, peak double, error string"
)

VIDEO_KEYFRAMES_SCHEMA = (
    "media_ref string, frame_idx int, frame_sha string, error string"
)


def parse_pdf_pages(data: bytes) -> list[np.ndarray]:
    """PDF page rasters — REAL for the scanned-PDF class (north rule
    "PDF/layout parse").

    The born-digital TEXT path is functions/pdf.extract_pdf_text
    (stdlib object parse + Flate + content-stream interpreter) — text
    PDFs never need rasterizing.  A SCANNED page's raster IS its
    embedded /Subtype /Image XObject, so no renderer is involved:
    functions/pdf.extract_pdf_page_rasters parses the object graph and
    decodes the samples (unfiltered + FlateDecode at 1/8-bit
    DeviceGray and 8-bit DeviceRGB; DCTDecode via the in-repo baseline
    JPEG decoder when present).  Pages that COMPOSITE (multiple
    images, text-over-image, rect fills) fall through to the
    content-stream renderer (functions/pdfrender.render_pdf_pages —
    the same fallback chain pdf_text_row's OCR path uses); only
    constructs outside the renderer scope (vector curves, strokes,
    rotation, real font programs) still raise ValueError by name."""
    from .pdf import extract_pdf_page_rasters

    try:
        return extract_pdf_page_rasters(data)
    except ValueError as exc:
        if "compositing" not in str(exc):
            raise
        from .pdfrender import render_pdf_pages

        return render_pdf_pages(data)


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """REAL audio decode for WAV/RIFF containers — stdlib `wave` +
    numpy, no external codec (the audio analogue of imaging/png.py).

    Returns (float32 mono PCM in [-1, 1], sample_rate).  Multi-channel
    input is averaged to mono.  Supports the PCM widths `wave` does
    (8-bit unsigned, 16/32-bit signed little-endian)."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        rate = w.getframerate()
        frames = w.readframes(w.getnframes())
    if width == 1:  # unsigned 8-bit
        pcm = (np.frombuffer(frames, dtype=np.uint8).astype(np.float32)
               - 128.0) / 128.0
    elif width == 2:
        pcm = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 4:
        pcm = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width: {width}")
    if n_ch > 1:
        pcm = pcm[: len(pcm) - len(pcm) % n_ch].reshape(-1, n_ch).mean(axis=1)
    return pcm, rate


def _decode_audio(data: bytes, sample_rate: int) -> np.ndarray:
    """Audio decode seam.  WAV/RIFF payloads decode for REAL
    (decode_wav, pure stdlib+numpy); FLAC payloads decode for REAL
    (functions/flac.py — bit-exact rice/LPC reconstruction,
    CRC-8/CRC-16/MD5 self-verified, refuse-loudly), both native and
    Ogg-encapsulated (RFC 5334 page/packet reassembly, per-page CRC-32
    verified).  mp3/ogg-vorbis need float MDCT synthesis
    (soundfile/ffmpeg, absent in this container) — those fall to a
    deterministic fake (STUB, clearly marked) so the Spark-side
    plumbing stays exercised."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        pcm, _rate = decode_wav(data)
        return pcm
    if data[:4] == b"fLaC":
        from .flac import decode_flac

        pcm, _rate = decode_flac(data)
        return pcm
    if data[:4] == b"OggS" and len(data) >= 32:
        # Ogg-FLAC (RFC 5334 mapping) decodes for REAL: the page/
        # packet layer is pure structure and the payload is the same
        # native FLAC bitstream as above.  Detection is the first
        # page's first packet bytes, bounded by its lacing sum (the
        # audio_meta discipline); other Ogg codecs fall to the stub.
        n_segs = data[26]
        body = data[27 + n_segs:27 + n_segs + sum(data[27:27 + n_segs])]
        if body[:5] == b"\x7fFLAC":
            from .flac import decode_ogg_flac

            pcm, _rate = decode_ogg_flac(data)
            return pcm
    # STUB: the remaining compressed formats (mp3/ogg-vorbis) would
    # need a codec backend (soundfile/ffmpeg) at this seam; the
    # deterministic fake below is used UNCONDITIONALLY for them — not
    # import-gated — so committed goldens and oracles cannot silently
    # change meaning if a codec library appears in the environment (a
    # real backend is a deliberate code change here, re-goldened in
    # the same commit — exactly what the FLAC branch above did).
    #
    # Why these two stay stubbed when FLAC/AVI/mp4/GIF were written
    # from scratch: a conformant MPEG-audio or Vorbis decoder is not
    # blocked on effort but on SPEC TABLE DATA this sandbox cannot
    # obtain — the 34 Layer-III Huffman tables, the 512-tap synthesis
    # window (a numeric table in ISO 11172-3 Annex B with no closed
    # form), and Vorbis's floor/residue codebooks.  Re-deriving them
    # from memory risks silently-wrong PCM (the worst failure class);
    # substituting self-designed tables would decode only our own
    # streams while claiming the format's name.  Every part of these
    # formats that IS pure structure (frame walk, Xing, tags, Ogg
    # paging, duration) is already real in audio_meta.py.
    raw = np.frombuffer(
        hashlib.sha256(data).digest() * max(1, len(data) // 32), dtype=np.uint8
    )
    return (raw.astype(np.float32) - 127.5) / 127.5


def _decode_video_frames(data: bytes, every_n: int) -> list[tuple[int, bytes]]:
    """Video frame-sampling seam — REAL for both supported containers,
    refuse-loudly for everything else (the audio_meta/pdf discipline;
    this retired the old deterministic-fake chunking, re-goldened in
    the same commit).  AVI/RIFF parses via functions/avi.py (chunk
    walker) and mp4 via functions/mp4.py (stsc/stsz/stco sample-table
    demux) — both are pure table/structure work, no codec backend;
    what needs a codec is only decoding the returned frame PAYLOADS
    when they are compressed bitstreams (per-frame error rows
    downstream, frame sampling itself still real).  webm/matroska
    demuxes via the EBML block layer (functions/mkv.py SimpleBlock /
    BlockGroup walk); foreign payloads raise ValueError naming what
    was seen, surfacing as per-clip error rows."""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from .avi import parse_avi_frames

        frames = parse_avi_frames(data)
    elif data[:4] == b"\x1aE\xdf\xa3":
        from .mkv import parse_mkv_frames

        frames = parse_mkv_frames(data)
    else:
        from .mp4 import parse_mp4_frames

        frames = parse_mp4_frames(data)  # loud on foreign
    return [(i, f) for i, f in enumerate(frames) if i % every_n == 0]


def image_feature_row(ref: str, data: bytes) -> dict:
    """One image's feature row — shared verbatim by the Spark UDF and
    the golden-fixture generator, so the oracle runs the SAME code.
    Pixel decode sniffs the magic bytes (imaging/codecs.decode_image):
    PNG and baseline JPEG both decode for real."""
    from ..config import DEFAULT_CONFIG
    from ..imaging.analyzer import analyze
    from ..imaging.codecs import decode_image

    row = dict(media_ref=ref, width=None, height=None,
               sharpness=None, contrast=None, brightness=None,
               error=None)
    try:
        img = decode_image(bytes(data))
        row["height"], row["width"] = img.shape[:2]
        q = analyze(img, DEFAULT_CONFIG.preprocessing)
        row.update(sharpness=q.sharpness, contrast=q.contrast,
                   brightness=q.brightness)
    except Exception as exc:
        row["error"] = str(exc)
    return row


def image_features(media: DataFrame) -> DataFrame:
    """REAL path: decode + analyzer metrics per image, Arrow-batched."""
    return map_rows(media, lambda ref, data: [image_feature_row(ref, data)],
                    IMAGE_FEATURES_SCHEMA, "media_ref", "bytes")


def audio_feature_row(ref: str, data: bytes,
                      sample_rate: int = 16_000) -> dict:
    """One clip's energy row — shared verbatim by the Spark UDF and
    the golden-fixture generator."""
    row = dict(media_ref=ref, n_samples=None, rms=None,
               peak=None, error=None)
    try:
        pcm = _decode_audio(bytes(data), sample_rate)
        row["n_samples"] = int(pcm.size)
        if pcm.size:
            row["rms"] = float(np.sqrt(np.mean(pcm**2)))
            row["peak"] = float(np.abs(pcm).max())
        else:
            # legal zero-frame container: an empty clip, not a decode
            # error
            row["rms"] = 0.0
            row["peak"] = 0.0
    except Exception as exc:
        row["error"] = str(exc)
    return row


def audio_features(media: DataFrame, sample_rate: int = 16_000) -> DataFrame:
    """Per-clip energy summary; WAV decodes for real, compressed
    formats via the documented stub seam."""
    return map_rows(
        media, lambda ref, data: [audio_feature_row(ref, data, sample_rate)],
        AUDIO_FEATURES_SCHEMA, "media_ref", "bytes",
    )


AUDIO_INVENTORY_SCHEMA = (
    "media_ref string, format string, codec string, sample_rate int,"
    " channels int, duration_s double, pcm_md5 string, error string"
)


def audio_inventory_row(ref: str, data: bytes) -> dict:
    """One payload's container-metadata row (functions/audio_meta.py)
    — shared verbatim by the Spark UDF and the golden generator."""
    from .audio_meta import sniff_audio

    row = dict(media_ref=ref, format=None, codec=None, sample_rate=None,
               channels=None, duration_s=None, pcm_md5=None, error=None)
    try:
        row.update(sniff_audio(bytes(data)))
    except Exception as exc:
        row["error"] = str(exc)
    return row


def audio_inventory(media: DataFrame) -> DataFrame:
    """REAL container-metadata sniff over opaque audio payloads — the
    routing/filter stage a pipeline runs BEFORE paying for decode:
    format/codec/rate/channels/duration per clip (exact for wav/flac/
    ogg AND for walkable mp3 — Xing header or full frame walk, CBR
    estimate only as the unwalkable-stream fallback), plus FLAC's
    embedded decoded-PCM md5 (the dedup key).  Unknown/truncated
    payloads are error rows."""
    return map_rows(media, lambda ref, data: [audio_inventory_row(ref, data)],
                    AUDIO_INVENTORY_SCHEMA, "media_ref", "bytes")


AUDIO_TAGS_SCHEMA = (
    "media_ref string, format string, vendor string, title string,"
    " artist string, album string, n_tags int, error string"
)


def audio_tags_row(ref: str, data: bytes) -> dict:
    """One payload's embedded-tag row (functions/audio_meta.audio_tags)
    — shared verbatim by the Spark UDF and the golden generator."""
    from .audio_meta import audio_tags

    row = dict(media_ref=ref, format=None, vendor=None, title=None,
               artist=None, album=None, n_tags=None, error=None)
    try:
        row.update(audio_tags(bytes(data)))
    except Exception as exc:
        row["error"] = str(exc)
    return row


def audio_tags_stage(media: DataFrame) -> DataFrame:
    """REAL embedded-tag extraction over opaque audio payloads: Vorbis
    comments (FLAC metadata block 4 / Ogg comment packet), ID3v2 text
    frames, RIFF LIST-INFO — the catalog metadata a curation pipeline
    dedups and routes on without decoding a sample.  Formats without a
    tag structure return n_tags=0 (absence is data); unknown containers
    are error rows."""
    return map_rows(media, lambda ref, data: [audio_tags_row(ref, data)],
                    AUDIO_TAGS_SCHEMA, "media_ref", "bytes")


VIDEO_FRAME_FEATURES_SCHEMA = (
    "media_ref string, frame_idx int, width int, height int,"
    " sharpness double, contrast double, brightness double, error string"
)


def video_frame_row(ref: str, idx: int, frame: bytes) -> dict:
    """One sampled frame's feature row — decode + analyzer metrics,
    shared verbatim by the Spark UDF and the golden-fixture generator
    (the image_feature_row pattern, per frame)."""
    row = image_feature_row(ref, frame)
    return dict(
        media_ref=ref, frame_idx=idx, width=row["width"],
        height=row["height"], sharpness=row["sharpness"],
        contrast=row["contrast"], brightness=row["brightness"],
        error=row["error"],
    )


def video_frame_features(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame-sample -> decode -> feature-extract chain for AVI
    AND mp4 payloads: the container parse is functions/avi.py (stdlib
    RIFF walk) or functions/mp4.py (ISO-BMFF sample-table demux), the
    per-frame pixel decode is imaging/png.py (the synthetic corpus
    stores PNG frames — the lossless-capture pattern), and the feature
    extraction is the SAME analyzer the image pipeline uses.  A frame
    whose payload is not decodable PNG (a genuinely compressed codec
    bitstream) surfaces as a per-FRAME error row — frame sampling
    still worked; only pixel decode needs the absent codec.  Container
    failures (truncated/EBML/foreign) surface as one per-CLIP error
    row naming what was seen."""
    return map_rows(
        media, lambda ref, data: video_feature_rows(ref, data, every_n),
        VIDEO_FRAME_FEATURES_SCHEMA, "media_ref", "bytes",
    )


def video_feature_rows(ref: str, data: bytes, every_n: int = 2) -> list:
    """One clip's frame-feature rows — shared verbatim by the Spark UDF
    and the golden-fixture generator (the audio_feature_row pattern)."""
    try:
        sampled = _decode_video_frames(data, every_n)
    except Exception as exc:
        return [dict(
            media_ref=ref, frame_idx=None, width=None, height=None,
            sharpness=None, contrast=None, brightness=None,
            error=str(exc))]
    return [video_frame_row(ref, idx, frame) for idx, frame in sampled]


def video_keyframes(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Sampled frame fingerprints (1:N row fan-out): REAL container
    frame extraction for AVI (functions/avi.py) and mp4 sample tables
    (functions/mp4.py); webm/foreign payloads are per-clip error
    rows."""
    return map_rows(
        media, lambda ref, data: _keyframe_rows(ref, data, every_n),
        VIDEO_KEYFRAMES_SCHEMA, "media_ref", "bytes",
    )


def _keyframe_rows(ref: str, data: bytes, every_n: int) -> list[dict]:
    try:
        return [dict(media_ref=ref, frame_idx=idx,
                     frame_sha=hashlib.sha256(frame).hexdigest(), error=None)
                for idx, frame in _decode_video_frames(data, every_n)]
    except Exception as exc:
        return [dict(media_ref=ref, frame_idx=None, frame_sha=None,
                     error=str(exc))]


VIDEO_INVENTORY_SCHEMA = (
    "media_ref string, container string, codec string, width int,"
    " height int, duration_s double, n_frames int, rotation int,"
    " error string"
)


def video_inventory_row(ref: str, data: bytes) -> dict:
    """One payload's video container-metadata row — shared verbatim by
    the Spark UDF and the golden generator (the video twin of
    audio_inventory_row).  AVI routes through functions/avi.py, mp4
    through functions/mp4.py, webm/matroska through the EBML walk in
    functions/mkv.py; foreign payloads refuse loudly with a
    container-specific error string."""
    row = dict(media_ref=ref, container=None, codec=None, width=None,
               height=None, duration_s=None, n_frames=None,
               rotation=None, error=None)
    try:
        data = bytes(data)
        if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
            from .avi import avi_metadata

            m = avi_metadata(data)
            fps = m.get("fps")
            n = m.get("n_frames")
            row.update(
                container="avi", codec=m.get("codec"),
                width=m.get("width"), height=m.get("height"),
                n_frames=n,
                duration_s=(n / fps) if fps and n is not None else None,
            )
        elif data[:4] == b"\x1aE\xdf\xa3":
            from .mkv import first_video_track, mkv_metadata, \
                parse_mkv_blocks

            m = mkv_metadata(data)
            vtrack = first_video_track(data)
            # an unreadable block layer (laced, or a corrupt cluster)
            # does not invalidate the metadata row — the count is
            # simply unknown, like an mp4 without sample tables
            try:
                nb = [
                    b for b in parse_mkv_blocks(data)
                    if b["track"] == vtrack
                ] if vtrack is not None else []
            except ValueError:
                nb = []
            row.update(
                container=m["container"], codec=m["codec"],
                width=m["width"], height=m["height"],
                duration_s=m["duration_s"],
                n_frames=len(nb) if nb else None,
            )
        else:
            from .mp4 import mp4_metadata

            m = mp4_metadata(data)
            row.update(
                container="mp4", codec=m.get("codec"),
                width=m.get("width"), height=m.get("height"),
                duration_s=m.get("duration_s"),
                n_frames=m.get("n_frames"),
                # the tkhd display matrix: the phone-camera rotation
                # a transcode stage must apply (AVI/EBML have no
                # equivalent channel -> null there)
                rotation=m.get("rotation"),
            )
    except Exception as exc:
        row["error"] = str(exc)
    return row


def video_inventory(media: DataFrame) -> DataFrame:
    """REAL video container-metadata sniff over opaque payloads — the
    routing/filter stage a pipeline runs BEFORE paying for any codec
    decode: container/codec/dims/duration/frame-count per clip for
    AVI (RIFF walk), mp4 (ISO-BMFF box walk) and webm/matroska (EBML
    walk); foreign payloads are error rows naming what was seen."""
    return map_rows(media, lambda ref, data: [video_inventory_row(ref, data)],
                    VIDEO_INVENTORY_SCHEMA, "media_ref", "bytes")
