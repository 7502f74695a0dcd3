"""YAML job-config loading + validation (config.go:81-148 parity).

The reference loads `configs/config.yaml` into nested structs and
validates before serving (internal/config/config.go: Load at 81-106,
Validate at 108-148).  This module gives the Spark job the same
file-driven configuration surface, mapped onto JobConfig:

  ocr.*                  -> OCRConfig (language, page_seg_mode->psm,
                            engine_mode->oem, whitelist->char_whitelist,
                            max_image_size, timeout->timeout_seconds)
  preprocessing.*        -> PreprocessingConfig (incl.
                            quality_thresholds.{sharpness,contrast,
                            brightness})
  spark.* (extension)    -> checkpoint_buckets

The reference's `performance` section (cache TTL/size, worker pool,
queue) has no counterpart: the durable memo and Spark scheduling
replace all of it, so those keys are refused like any other key the
job would not read.  A typo is refused the same way instead of being
silently dropped.

Validation mirrors Validate() rule-for-rule where the rule still has
meaning here; each error message keeps the reference's wording so a
user migrating a config file sees familiar diagnostics.
"""

from __future__ import annotations

from .config import JobConfig, OCRConfig, PreprocessingConfig

_ENGINES = ("tesseract", "template")  # template = the deterministic engine
_BIN_MODES = ("otsu", "adaptive")

# YAML key -> (dataclass field, coercion), one table per section
_OCR_KEYS = {
    "engine": ("engine", str),
    "language": ("language", str),
    "page_seg_mode": ("psm", int),
    "engine_mode": ("oem", int),
    "whitelist": ("char_whitelist", str),
    "max_image_size": ("max_image_size", int),
    "timeout": ("timeout_seconds", int),
}
_PRE_KEYS = {
    "auto_mode": ("auto_mode", bool),
    "grayscale": ("grayscale", bool),
    "denoise": ("denoise", bool),
    "binarization_mode": ("binarization_mode", str),
    "adaptive_block_size": ("adaptive_block_size", int),
    "adaptive_c": ("adaptive_c", float),
    "deskew_correction": ("deskew_enabled", bool),
    "deskew_angle_limit": ("deskew_angle_limit", float),
}
_THRESHOLD_KEYS = {
    "sharpness": ("sharpness_threshold", float),
    "contrast": ("contrast_threshold", float),
    "brightness": ("brightness_min", float),
}
_SPARK_KEYS = {"checkpoint_buckets": ("checkpoint_buckets", int)}
_SECTIONS = ("ocr", "preprocessing", "spark")


class ConfigError(ValueError):
    """Raised on an invalid job config (Validate(), config.go:108-148)."""


def _section(doc: dict, name: str) -> dict:
    sec = doc.get(name) or {}
    if not isinstance(sec, dict):
        raise ConfigError(f"invalid section: {name}")
    return sec


def _fields(sec: dict, keys: dict, path: str) -> dict:
    """Dataclass kwargs for one section; any key outside `keys` is
    refused by its dotted path."""
    for k in sec:
        if k not in keys:
            raise ConfigError(f"unknown config key: {path}.{k}")
    return {keys[k][0]: keys[k][1](v) for k, v in sec.items()}


def job_config_from_dict(doc: dict) -> JobConfig:
    for name in doc:
        if name not in _SECTIONS:
            raise ConfigError(f"unknown config key: {name}")
    ocr_d = _section(doc, "ocr")
    pre_d = dict(_section(doc, "preprocessing"))
    qt = _section(pre_d, "quality_thresholds")
    pre_d.pop("quality_thresholds", None)

    engine = ocr_d.get("engine", "tesseract")
    if engine not in _ENGINES:
        raise ConfigError(f"unsupported OCR engine: {engine}")
    ocr = OCRConfig(**_fields(ocr_d, _OCR_KEYS, "ocr"))
    if ocr.max_image_size <= 0:
        raise ConfigError(f"invalid max_image_size: {ocr.max_image_size}")
    if ocr.timeout_seconds <= 0:
        raise ConfigError(f"invalid timeout: {ocr.timeout_seconds}")

    pre = PreprocessingConfig(
        **_fields(pre_d, _PRE_KEYS, "preprocessing"),
        **_fields(qt, _THRESHOLD_KEYS, "preprocessing.quality_thresholds"),
    )
    if pre.binarization_mode not in _BIN_MODES:
        raise ConfigError(f"invalid binarization_mode: {pre.binarization_mode}")
    if pre.adaptive_block_size % 2 == 0 or pre.adaptive_block_size < 3:
        raise ConfigError(
            f"invalid adaptive_block_size: {pre.adaptive_block_size}"
        )

    job = JobConfig(
        ocr=ocr,
        preprocessing=pre,
        **_fields(_section(doc, "spark"), _SPARK_KEYS, "spark"),
    )
    if job.checkpoint_buckets <= 0:
        raise ConfigError(f"invalid checkpoint_buckets: {job.checkpoint_buckets}")
    return job


def load_job_config(path: str) -> JobConfig:
    """Load + validate a YAML job config file (Load, config.go:81-106)."""
    import yaml

    with open(path) as fh:
        doc = yaml.safe_load(fh) or {}
    if not isinstance(doc, dict):
        raise ConfigError("config root must be a mapping")
    return job_config_from_dict(doc)
