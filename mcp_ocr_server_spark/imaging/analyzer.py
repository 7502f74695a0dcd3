"""Image-quality analysis + adaptive pipeline selection (SURVEY.md §2.4).

Policy mirrors internal/preprocessing/analyzer.go:116-166 exactly:

  needs_preprocessing  = sharpness < 100 OR contrast < 30
                         OR brightness NOT IN [50, 200]      (analyzer.go:116-133)
  pipeline (auto mode) = always [grayscale]
                         + brighten  if brightness < 50
                         + darken    if brightness > 200
                         + contrast_enhance if contrast < 30
                         + denoise   if sharpness < 100
                         + binarization (always)
                         + deskew    (always)                (analyzer.go:136-166)
  resize is never part of the auto pipeline.
  manual mode          = [grayscale, denoise, binarization, deskew, resize]
                         gated by config flags               (preprocessor.go:342-366)

Fail-soft: analysis errors fall back to the default pipeline
(preprocessor.go:83-87); unknown step names are identity
(preprocessor.go:182-184).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..config import PreprocessingConfig
from . import kernels

# upper brightness bound, hardcoded in the reference (analyzer.go:33);
# only the lower bound is configurable (PreprocessingConfig.brightness_min)
BRIGHTNESS_MAX = 200.0


@dataclass(frozen=True)
class ImageQuality:
    """Mirror of ImageQuality (analyzer.go:11-17)."""

    sharpness: float
    contrast: float
    brightness: float
    needs_preprocessing: bool
    suggested_pipeline: tuple[str, ...]


def analyze(img: np.ndarray, cfg: PreprocessingConfig) -> ImageQuality:
    gray = kernels.grayscale(img) if img.ndim == 3 else img
    sharp = kernels.sharpness(gray)
    cont = kernels.contrast(gray)
    bright = kernels.brightness(gray)
    needs = (
        sharp < cfg.sharpness_threshold
        or cont < cfg.contrast_threshold
        or bright < cfg.brightness_min
        or bright > BRIGHTNESS_MAX
    )
    pipeline: list[str] = ["grayscale"]
    if bright < cfg.brightness_min:
        pipeline.append("brighten")
    elif bright > BRIGHTNESS_MAX:
        pipeline.append("darken")
    if cont < cfg.contrast_threshold:
        pipeline.append("contrast_enhance")
    if sharp < cfg.sharpness_threshold:
        pipeline.append("denoise")
    pipeline.append("binarization")
    pipeline.append("deskew")
    return ImageQuality(
        sharpness=sharp,
        contrast=cont,
        brightness=bright,
        needs_preprocessing=needs,
        suggested_pipeline=tuple(pipeline),
    )


def default_pipeline(cfg: PreprocessingConfig) -> tuple[str, ...]:
    """Manual-mode pipeline, preprocessor.go:342-366 fixed order —
    including the trailing `resize` step of the reference's fixed
    order (identity while no target dims are configurable, but the
    step list itself is part of the parity contract: applied_steps
    rows must enumerate what the reference would run)."""
    steps: list[str] = []
    if cfg.grayscale:
        steps.append("grayscale")
    if cfg.denoise:
        steps.append("denoise")
    steps.append("binarization")
    if cfg.deskew_enabled:
        steps.append("deskew")
    steps.append("resize")
    return tuple(steps)


def apply_step(
    img: np.ndarray,
    step: str,
    cfg: PreprocessingConfig,
    deadline: float | None = None,
) -> np.ndarray:
    """Dispatch-by-name (applyStep, preprocessor.go:129-192).

    Unknown step => identity pass-through (preprocessor.go:182-184, A8).
    `deadline` (absolute time.monotonic()) reaches the two unbounded
    kernels — NL-means and the Canny/Hough deskew chain (P4).
    """
    if step == "grayscale":
        return kernels.grayscale(img)
    if step == "brighten":
        return kernels.brighten(img)
    if step == "darken":
        return kernels.darken(img)
    if step == "contrast_enhance":
        return kernels.clahe(img)
    if step == "denoise":
        return kernels.nl_means_denoise(img, deadline=deadline)
    if step == "binarization":
        return kernels.binarize(
            img, cfg.binarization_mode, cfg.adaptive_block_size, cfg.adaptive_c
        )
    if step == "deskew":
        return kernels.deskew(img, cfg.deskew_angle_limit, deadline=deadline)
    if step == "resize":
        return kernels.resize(img)  # no target dims configured => identity
    return img


def preprocess(
    img: np.ndarray,
    cfg: PreprocessingConfig,
    deadline: float | None = None,
) -> tuple[np.ndarray, ImageQuality | None, tuple[str, ...]]:
    """Full preprocess: analyze (auto mode) or fixed pipeline, then apply.

    Returns (processed, quality-or-None, applied_steps).  Analyzer
    failure falls back to the default pipeline (preprocessor.go:83-87);
    a DeadlineExceeded from a kernel propagates — the OCR stage turns
    it into a TIMEOUT error row (P4), it must NOT be swallowed by the
    fail-soft path.
    """
    quality: ImageQuality | None = None
    if cfg.auto_mode:
        try:
            quality = analyze(img, cfg)
            steps = quality.suggested_pipeline
        except Exception:
            steps = default_pipeline(cfg)
    else:
        steps = default_pipeline(cfg)
    out = img
    for step in steps:
        out = apply_step(out, step, cfg, deadline=deadline)
    return out, quality, tuple(steps)
