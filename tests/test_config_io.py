"""YAML job config loading + validation (config_io.py; reference
Load/Validate parity, config.go:81-148)."""

import os

import pytest

from mcp_ocr_server_spark.config import JobConfig
from mcp_ocr_server_spark.config_io import (
    ConfigError,
    job_config_from_dict,
    load_job_config,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_example_config_loads():
    cfg = load_job_config(os.path.join(REPO, "configs", "job.yaml"))
    assert cfg.ocr.language == "eng+chi_sim+chi_tra+jpn"
    assert cfg.ocr.psm == 3 and cfg.ocr.oem == 3
    assert cfg.ocr.max_image_size == 10 * 1024 * 1024
    assert cfg.preprocessing.binarization_mode == "otsu"
    assert cfg.checkpoint_buckets == 32
    # the example file restates every default the job reads
    assert cfg.preprocessing == JobConfig().preprocessing


def test_empty_doc_gives_reference_defaults():
    cfg = job_config_from_dict({})
    dflt = JobConfig()
    assert cfg.ocr == dflt.ocr
    assert cfg.preprocessing == dflt.preprocessing
    assert cfg.checkpoint_buckets == dflt.checkpoint_buckets


@pytest.mark.parametrize(
    "doc, msg",
    [
        ({"ocr": {"engine": "easyocr"}}, "unsupported OCR engine"),
        ({"ocr": {"max_image_size": 0}}, "invalid max_image_size"),
        ({"ocr": {"timeout": -1}}, "invalid timeout"),
        ({"preprocessing": {"binarization_mode": "sauvola"}},
         "invalid binarization_mode"),
        ({"preprocessing": {"adaptive_block_size": 10}},
         "invalid adaptive_block_size"),
        # keys the job does not read are refused by name, not dropped
        ({"preprocessing": {"skew_method": "fft"}},
         "unknown config key: preprocessing.skew_method"),
        ({"performance": {"cache_enabled": True, "cache_size": 0}},
         "unknown config key: performance"),
        ({"spark": {"media_partitions": 0}},
         "unknown config key: spark.media_partitions"),
        ({"preprocessing": {"quality_thresholds": {"brightness_max": 1}}},
         "unknown config key: preprocessing.quality_thresholds.brightness_max"),
        ({"spark": {"checkpoint_buckets": 0}}, "invalid checkpoint_buckets"),
    ],
)
def test_validation_errors(doc, msg):
    with pytest.raises(ConfigError, match=msg):
        job_config_from_dict(doc)


def test_quality_thresholds_and_spark_overrides():
    cfg = job_config_from_dict(
        {
            "preprocessing": {"quality_thresholds": {"sharpness": 55.0}},
            "spark": {"checkpoint_buckets": 128},
        }
    )
    assert cfg.preprocessing.sharpness_threshold == 55.0
    assert cfg.preprocessing.contrast_threshold == 30.0
    assert cfg.checkpoint_buckets == 128


def test_unknown_key_refused():
    """A typo is refused by its dotted path instead of silently falling
    back to the default."""
    with pytest.raises(
        ConfigError, match="unknown config key: preprocessing.skew_methd"
    ):
        job_config_from_dict({"preprocessing": {"skew_methd": "profile"}})
    with pytest.raises(ConfigError, match="unknown config key: ocr.langauge"):
        job_config_from_dict({"ocr": {"langauge": "eng"}})
