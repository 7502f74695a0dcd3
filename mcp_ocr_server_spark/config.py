"""Job configuration with defaults matching the reference exactly.

Reference: internal/config/config.go:179-227 (defaults) and
configs/config.yaml.  The reference loads YAML into nested structs and
validates; here the config is a frozen dataclass broadcast to executors
(a Spark job parameter set, not per-request arguments — see SURVEY.md
§1 "Tool request" row).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class OCRConfig:
    """internal/config/config.go:186-196."""

    # config.go:187 — engine selection.  "tesseract" engages the real
    # PytesseractEngine wherever pytesseract is installed and falls back
    # to the deterministic TemplateMatchEngine otherwise (capability
    # probe in ocr/engine.get_engine); "template" pins the deterministic
    # engine unconditionally (fixtures/goldens use this).
    engine: str = "tesseract"
    language: str = "eng+chi_sim+chi_tra+jpn"  # config.go:188
    psm: int = 3  # config.go:190 (PageSegMode AUTO)
    oem: int = 3  # config.go:191 (OcrEngineMode DEFAULT)
    char_whitelist: str = ""  # config.go:192
    max_image_size: int = 10 * 1024 * 1024  # 10 MiB, config.go:194
    timeout_seconds: int = 30  # config.go:195

    def __post_init__(self) -> None:
        # Tesseract defines exactly psm 0-13; failing at CONFIG
        # construction (driver-side, job build time) beats one
        # OCR_ENGINE_FAILED row per image from inside recognize()
        if self.psm not in range(14):
            raise ValueError(f"unsupported Tesseract psm: {self.psm}")


@dataclass(frozen=True)
class PreprocessingConfig:
    """internal/config/config.go:197-212."""

    auto_mode: bool = True  # config.go:201 — quality-driven pipeline
    grayscale: bool = True
    denoise: bool = True
    binarization_mode: str = "otsu"  # config.go:204 (default mode)
    adaptive_block_size: int = 11  # config.go:205
    adaptive_c: float = 2.0  # config.go:206
    deskew_enabled: bool = True
    deskew_angle_limit: float = 10.0  # config.go:209
    # Quality thresholds: analyzer.go:116-133 + configs/config.yaml:36-39
    # (the upper brightness bound is fixed: analyzer.BRIGHTNESS_MAX)
    sharpness_threshold: float = 100.0
    contrast_threshold: float = 30.0
    brightness_min: float = 50.0


@dataclass(frozen=True)
class JobConfig:
    """The reference's cache settings (config.go:213-219) and worker
    pool have no field here: the durable memo anti-join always runs
    (SURVEY.md §2.5 C2) and Spark task scheduling is the pool (§2.6
    P2), so neither TTL, size nor pool width would be read."""

    ocr: OCRConfig = field(default_factory=OCRConfig)
    preprocessing: PreprocessingConfig = field(default_factory=PreprocessingConfig)
    checkpoint_buckets: int = 32  # resume granularity (plans/checkpoint.py)

    @property
    def arrow_batch_rows(self) -> int:
        # Arrow batch rows for binary-carrying stages, sized so a batch
        # of worst-case images stays ~256 MB (measured: 1024-row batches
        # are 22% faster than 64 on small images, but 1024 rows of
        # 10 MiB images would be a 10 GiB batch)
        target_bytes = 256 * 1024 * 1024
        return max(16, min(1024, target_bytes // self.ocr.max_image_size))


# Error codes: pkg/errors/errors.go:9-17 — all eight, verbatim.
INVALID_INPUT = "INVALID_INPUT"
FILE_NOT_FOUND = "FILE_NOT_FOUND"
UNSUPPORTED_FORMAT = "UNSUPPORTED_FORMAT"
IMAGE_TOO_LARGE = "IMAGE_TOO_LARGE"
PREPROCESSING_FAILED = "PREPROCESSING_FAILED"
OCR_ENGINE_FAILED = "OCR_ENGINE_FAILED"
TIMEOUT = "TIMEOUT"
INTERNAL_ERROR = "INTERNAL_ERROR"

# North-rule extension (no reference analogue — the reference has no
# PDF path): a pdf-kind span whose bytes fail the born-digital parser
# (functions/pdf.py raises: garbage, encrypted, unsupported filter,
# 1.5+ xref streams).  Same row-isolation semantics as the eight
# reference codes above.
PDF_PARSE_FAILED = "PDF_PARSE_FAILED"

# Supported languages: internal/ocr/tesseract.go:26,153-157.
SUPPORTED_LANGUAGES = ("eng", "chi_sim", "chi_tra", "jpn")

DEFAULT_CONFIG = JobConfig()

# Fixture/test job config: identical semantics to the reference defaults
# (config.go:186-219) except max_image_size scaled 10 MiB -> 64 KiB so the
# oversize-guard path (handler.go:252-254) is exercised without multi-MB
# noise fixtures, and engine PINNED to the deterministic template matcher
# so committed goldens never depend on whether tesseract is installed.
# The guard THRESHOLD is config, the guard SEMANTICS are what parity
# requires.
FIXTURE_JOB = JobConfig(ocr=OCRConfig(engine="template", max_image_size=64_000))
