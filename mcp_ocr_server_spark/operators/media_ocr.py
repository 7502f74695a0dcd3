"""Batched analyze + preprocess + OCR stage (`mapInPandas`).

Spark re-expression of the reference's core operator chain
`recognizeImage` (internal/tools/handler.go:250-296): decode ->
quality-analyze -> adaptive preprocess -> OCR, with the reference's
fail-soft and guard semantics:

- decode/preprocess failure  => OCR the ORIGINAL bytes with a WARN,
  never fail the row (handler.go:271-275, F5);
- engine failure             => OCR_ENGINE_FAILED error row, batch
  continues (handler.go:200-216 error isolation, P1);
- per-image soft timeout     => TIMEOUT error row (tesseract.go:94-138;
  cooperative monotonic-clock check — Spark's task reaper is the hard
  backstop, SURVEY.md §2.6 P4).

One engine per python worker, initialized in the generator prologue and
reused across every Arrow batch — the analogue of the reference's
sync.Pool of gosseract clients (tesseract.go:27-32, P3).

The stage consumes ONE ROW PER DISTINCT content_hash (the memoization
dedup happens upstream in plans/pipeline.py), so work units are
image-granularity and uniformly hash-distributed — this, not row-count
balancing, is what breaks media-heavy document skew (north_rule).
"""

from __future__ import annotations

import time
from typing import Iterator

import numpy as np
import pandas as pd

from ..config import (
    OCR_ENGINE_FAILED,
    PREPROCESSING_FAILED,
    TIMEOUT,
    JobConfig,
)
from ..deadline import DeadlineExceeded
from ..imaging.analyzer import preprocess
from ..imaging.codecs import decode_image

# Output schema of the OCR stage: one row per distinct content_hash.
OCR_RESULT_SCHEMA = (
    "content_hash string, text string, confidence double, language string,"
    " duration_s double, error_code string, error_msg string,"
    " sharpness double, contrast double, brightness double,"
    " applied_steps array<string>, partition_id int"
)


def make_ocr_map(cfg: JobConfig):
    """Build the mapInPandas function over (content_hash, bytes).

    The engine name is RESOLVED here, on the driver, and pinned into
    the closure's config: the memo cache key (content_hash_col) embeds
    the driver's resolution, so an executor re-probing pytesseract
    availability for itself could write rows under one engine's key
    that were produced by the other.  With the pinned name, a worker
    that cannot construct the resolved engine fails loudly instead.
    """
    import dataclasses

    from ..ocr.engine import resolved_engine

    cfg = dataclasses.replace(
        cfg,
        ocr=dataclasses.replace(cfg.ocr, engine=resolved_engine(cfg.ocr)),
    )

    def ocr_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # engine init once per python worker (P3); imported here so the
        # import happens on the executor, not at plan-build time
        from ..ocr.engine import OCRDeadlineExceeded, get_engine

        from pyspark import TaskContext

        engine = get_engine(cfg.ocr)
        timeout_s = float(cfg.ocr.timeout_seconds)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
        for pdf in batches:
            rows: list[dict] = []
            for h, data in zip(pdf["content_hash"], pdf["bytes"]):
                t0 = time.monotonic()
                row = dict(
                    content_hash=h, text="", confidence=None,
                    language=None, duration_s=None, error_code=None,
                    error_msg=None, sharpness=None, contrast=None,
                    brightness=None, applied_steps=None, partition_id=pid,
                )
                img = None
                try:
                    img = decode_image(bytes(data))
                except Exception as exc:  # F4 empty/bad decode
                    row["error_code"] = PREPROCESSING_FAILED
                    row["error_msg"] = f"decode: {exc}"
                    rows.append(row)
                    continue
                processed = img
                try:
                    # cooperative deadline reaches the unbounded kernels
                    # (NL-means offset loop, Canny/Hough walker) — the
                    # costliest stage must not wedge a task (P4)
                    processed, quality, steps = preprocess(
                        img, cfg.preprocessing, deadline=t0 + timeout_s
                    )
                    row["applied_steps"] = list(steps)
                    if quality is not None:
                        row["sharpness"] = quality.sharpness
                        row["contrast"] = quality.contrast
                        row["brightness"] = quality.brightness
                except DeadlineExceeded as exc:
                    row["error_code"] = TIMEOUT
                    row["error_msg"] = f"preprocess: {exc}"
                    row["duration_s"] = time.monotonic() - t0
                    rows.append(row)
                    continue
                except Exception:
                    # F5 fail-soft: OCR the original bytes
                    processed = img
                    row["applied_steps"] = []
                if time.monotonic() - t0 > timeout_s:
                    row["error_code"] = TIMEOUT
                    row["error_msg"] = f"preprocess exceeded {timeout_s}s"
                    rows.append(row)
                    continue
                try:
                    # cooperative deadline: recognize() checks it inside
                    # its band loop (P4 — a pathological page raises
                    # OCRDeadlineExceeded instead of running on)
                    res = engine.recognize(processed, deadline=t0 + timeout_s)
                    if time.monotonic() - t0 > timeout_s:
                        row["error_code"] = TIMEOUT
                        row["error_msg"] = f"ocr exceeded {timeout_s}s"
                    else:
                        row["text"] = res.text
                        row["confidence"] = res.confidence
                        row["language"] = res.language
                except OCRDeadlineExceeded as exc:
                    row["error_code"] = TIMEOUT
                    row["error_msg"] = f"ocr: {exc}"
                except Exception as exc:
                    row["error_code"] = OCR_ENGINE_FAILED
                    row["error_msg"] = str(exc)
                row["duration_s"] = time.monotonic() - t0
                rows.append(row)
            yield pd.DataFrame(
                rows,
                columns=[
                    "content_hash", "text", "confidence", "language",
                    "duration_s", "error_code", "error_msg", "sharpness",
                    "contrast", "brightness", "applied_steps",
                    "partition_id",
                ],
            )

    return ocr_map


# One row per detected word box (K11, tesseract.go:206-278 — the
# reference's latent details API surfaced as a value-checked query).
WORD_BOX_SCHEMA = (
    "media_ref string, word_idx int, x int, y int, width int, height int,"
    " text string, confidence double"
)


def recognize_fail_soft(img: np.ndarray, cfg: JobConfig, recognize):
    """Preprocess then `recognize(image)`: any preprocess exception
    falls back to the ORIGINAL image (F5, handler.go:271-275).  Only the
    deadline-aware ocr_map and the independent oracle
    (synthetic.golden_media) keep their own copy of this chain."""
    try:
        processed, _q, _steps = preprocess(img, cfg.preprocessing)
    except Exception:
        processed = img  # fail-soft, handler.go:271-275
    return recognize(processed)


def word_box_rows(ref: str, png: bytes, cfg: JobConfig) -> list[dict]:
    """Word boxes for one image — shared VERBATIM by the Spark stage
    (queries.q_media_words) and the golden-fixture generator, so the
    oracle runs the same code.  Mirrors the pipeline's guards: images
    past the size guard yield no word rows (the OCR stage would never
    decode them), and preprocess failure falls back to the original
    image (F5) before detection."""
    from ..ocr.engine import get_engine

    if len(png) > cfg.ocr.max_image_size:
        return []
    img = decode_image(bytes(png))
    _res, boxes = recognize_fail_soft(
        img, cfg, get_engine(cfg.ocr).recognize_with_details)
    return [
        dict(media_ref=ref, word_idx=i, x=b.x, y=b.y, width=b.width,
             height=b.height, text=b.text,
             confidence=round(b.confidence, 6))
        for i, b in enumerate(boxes)
    ]


# Scanned-PDF OCR: page raster = embedded image XObject (no renderer
# needed — functions/pdf.extract_pdf_page_rasters), then the SAME
# preprocess + engine chain the image branch runs.  The reference never
# sees PDFs (server.go routes ready image bytes only); this is the
# north-rule "PDF/layout parse" feeding the OCR path.
SCAN_PDF_SCHEMA = (
    "media_ref string, page_idx int, text string, confidence double,"
    " error string"
)
RENDER_PDF_SCHEMA = SCAN_PDF_SCHEMA  # same (ref, page, text, conf, err)


def ocr_pages(ref: str, load_pages, cfg: JobConfig,
              prepare=lambda img: img) -> list[dict]:
    """OCR rows (SCAN_PDF_SCHEMA) for one payload's pages.

    `load_pages()` is the page source; when it raises, the payload is
    ONE error row with page_idx null.  Each page runs `prepare` and then
    the fail-soft chain; a failure there isolates to its page's row
    (P1)."""
    from ..ocr.engine import get_engine

    try:
        pages = load_pages()
    except Exception as exc:
        return [dict(media_ref=ref, page_idx=None, text=None,
                     confidence=None, error=str(exc))]
    engine = get_engine(cfg.ocr)
    out: list[dict] = []
    for i, img in enumerate(pages):
        row = dict(media_ref=ref, page_idx=i, text=None,
                   confidence=None, error=None)
        try:
            res = recognize_fail_soft(prepare(img), cfg, engine.recognize)
            row["text"] = res.text
            row["confidence"] = round(res.confidence, 6)
        except Exception as exc:
            row["error"] = str(exc)
        out.append(row)
    return out


def scan_pdf_rows(ref: str, data: bytes, cfg: JobConfig) -> list[dict]:
    """OCR rows for one scanned PDF (queries.q_pdf_scan_ocr and the
    golden-fixture generator).  Document-level raster failures (non-PDF,
    encrypted, born-digital pages, unsupported image features) are the
    page source's error row."""
    from ..functions.pdf import extract_pdf_page_rasters

    return ocr_pages(ref, lambda: extract_pdf_page_rasters(bytes(data)), cfg)


def render_pdf_rows(ref: str, data: bytes, cfg: JobConfig) -> list[dict]:
    """OCR rows for one COMPOSITING PDF (queries.q_pdf_render_ocr and
    the golden-fixture generator).  Pages go through the content-stream
    renderer (functions/pdfrender.render_pdf_pages: multi-image, text-
    over-image, rect fills, invisible OCR layers) instead of the single-
    XObject raster path; constructs outside the renderer scope (such as
    rotation or curves) are the page source's error row."""
    from ..functions.pdfrender import render_pdf_pages

    return ocr_pages(ref, lambda: render_pdf_pages(bytes(data)), cfg)


# Scan-format chain: the rest of the imdecode input matrix
# (preprocessor.go:64 — BMP / Netpbm / TIFF alongside PNG/JPEG).  One
# row function per query, shared VERBATIM with the golden-fixture
# generator.  Multi-page TIFF is the fax/flatbed shape: one file, one
# page per IFD, so OCR rows are (media_ref, page_idx) grained exactly
# like the scanned-PDF branch above.

SCAN_INVENTORY_SCHEMA = (
    "media_ref string, format string, n_pages int, width int,"
    " height int, channels int, error string"
)


def scan_inventory_row(ref: str, data: bytes) -> dict:
    """Container sniff + full pixel decode for one scan payload —
    format, page count (TIFF IFDs / GIF frames), first-page geometry;
    refusals (foreign magic, lossy WebP) surface as error rows naming
    what was seen.  This is the route/filter stage a pipeline runs
    BEFORE the OCR spend — same pattern as audio/video inventory."""
    from ..imaging.codecs import decode_image_pages, sniff_image_format

    row = dict(media_ref=ref, format=None, n_pages=None, width=None,
               height=None, channels=None, error=None)
    try:
        fmt = sniff_image_format(bytes(data))
        row["format"] = fmt
        pages = decode_image_pages(bytes(data))
        first = pages[0]
        row["n_pages"] = len(pages)
        row["height"], row["width"] = int(first.shape[0]), int(first.shape[1])
        row["channels"] = 1 if first.ndim == 2 else int(first.shape[2])
    except Exception as exc:
        row["error"] = str(exc)
    return row


def scan_image_ocr_rows(ref: str, data: bytes, cfg: JobConfig) -> list[dict]:
    """OCR rows for one scan payload, every page (TIFF: per IFD; GIF:
    per composited frame; other formats: the single image).  RGB pages
    fold to gray with the repo-wide BT.601 luma before the chain;
    decode failures are the page source's error row."""
    from ..imaging.codecs import decode_image_pages, to_gray

    return ocr_pages(ref, lambda: decode_image_pages(bytes(data)), cfg,
                     prepare=to_gray)
