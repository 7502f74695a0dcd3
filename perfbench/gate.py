"""Correctness gate: every span a timed call produced is checked against
the synthetic generator's goldens (``sources/synthetic.py``:
``expected_rows``, ``golden_media``, ``golden_pdf``).

A span fails when it is missing, extra (or duplicated), or differs from
its golden on ``(kind, media_ref, text, error_code)`` for its
``(doc_id, order)`` key.  A span carrying TIMEOUT, OCR_ENGINE_FAILED or
PREPROCESSING_FAILED where the golden does not is a difference on
``error_code`` and is also counted separately, as ``engine_errors``.
"""

from __future__ import annotations

import json
import os
from unittest import mock

from mcp_ocr_server_spark.config import (
    OCR_ENGINE_FAILED,
    PREPROCESSING_FAILED,
    TIMEOUT,
)
from mcp_ocr_server_spark.sources import synthetic as S

COMPARED = ("kind", "media_ref", "text", "error_code")
_ENGINE_ERRORS = {TIMEOUT, OCR_ENGINE_FAILED, PREPROCESSING_FAILED}


def goldens(spark, cfg, job, cache_path: str):
    """Golden OCR / pdf results for the whole image and pdf library.

    The libraries do not depend on the benchmark seed, so they are
    computed once per checkout, on the executors (each golden is a full
    decode + preprocess + OCR), and kept in ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
        return (
            {int(k): tuple(v) for k, v in cached["media"].items()},
            {int(k): tuple(v) for k, v in cached["pdfs"].items()},
        )
    sc = spark.sparkContext
    image_js = [j for j in range(cfg.media_universe) if S.media_exists(cfg, j)]
    pdf_js = list(range(S.N_PDF_DOCS)) if cfg.p_pdf else []
    media = dict(
        sc.parallelize(image_js, len(image_js))
        .map(lambda j: (j, S.golden_media(cfg, job, j)))
        .collect()
    )
    pdfs = dict(
        sc.parallelize(pdf_js, len(pdf_js))
        .map(lambda pj: (pj, S.golden_pdf(cfg, pj, job)))
        .collect()
    ) if pdf_js else {}
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(dict(media=media, pdfs=pdfs), fh)
    os.replace(tmp, cache_path)
    return media, pdfs


def expected_spans(cfg, job, doc_indices, media_gold, pdf_gold) -> list[dict]:
    """``expected_rows`` for every doc, fed the precomputed goldens, so
    the span -> golden mapping stays the generator's own."""
    with mock.patch.object(
        S, "golden_media", lambda _c, _job, j: media_gold[j]
    ), mock.patch.object(
        S, "golden_pdf", lambda _c, pj, _job=None: pdf_gold[pj]
    ):
        return [r for i in doc_indices for r in S.expected_rows(cfg, job, i)]


def compare(actual: list[dict], expected: list[dict]) -> dict:
    """Failed-span counts of ``actual`` against ``expected``."""
    want = {(r["doc_id"], r["order"]): r for r in expected}
    seen: set = set()
    mismatched = extra = engine_errors = 0
    for r in actual:
        key = (r["doc_id"], r["order"])
        w = want.get(key)
        if w is None or key in seen:
            extra += 1
            continue
        seen.add(key)
        if any(r[c] != w[c] for c in COMPARED):
            mismatched += 1
            if r["error_code"] in _ENGINE_ERRORS and r["error_code"] != w["error_code"]:
                engine_errors += 1
    missing = len(want) - len(seen)
    failed = missing + mismatched + extra
    return dict(
        attempted=len(want), failed=failed, missing=missing,
        mismatched=mismatched, extra=extra, engine_errors=engine_errors,
        failed_share=failed / len(want) if want else 1.0,
    )


def self_test(actual: list[dict], expected: list[dict]) -> dict:
    """Proves the gate trips: one corrupted text, one engine error where
    the golden has none, and one dropped row must each count as exactly
    one failed span.  Raises AssertionError otherwise."""
    base = compare(actual, expected)
    if base["failed"]:
        raise AssertionError(f"self-test needs a clean run, got {base}")
    corrupted = [dict(r) for r in actual]
    corrupted[0]["text"] = (corrupted[0]["text"] or "") + "#"
    errored = [dict(r) for r in actual]
    next(r for r in errored if r["error_code"] is None)["error_code"] = TIMEOUT
    cases = dict(
        corrupted=compare(corrupted, expected),
        engine_error=compare(errored, expected),
        dropped=compare(actual[1:], expected),
    )
    for name, res in cases.items():
        if res["failed"] != 1 or not res["failed_share"] > 0:
            raise AssertionError(f"gate missed a {name} row: {res}")
    if cases["engine_error"]["engine_errors"] != 1:
        raise AssertionError(f"gate missed the engine error: {cases}")
    return {k: v["failed_share"] for k, v in cases.items()}
