"""K5 reference-parity skew estimator (imaging/hough.py) + K2 NL-means.

Pins the literal guard/median semantics of analyzer.go:169-232 and the
behavioral contract of the Canny->HoughLinesP machinery, plus the
NL-means denoise kernel (preprocessor.go:140-150 parity) with a
committed expected-output hash.
"""

import hashlib
import math

import numpy as np
import pytest

from mcp_ocr_server_spark.imaging import hough, kernels


def lines_img(angle_deg, h=300, w=400, n=12):
    img = np.full((h, w), 255, dtype=np.uint8)
    t = math.tan(math.radians(angle_deg))
    for k in range(n):
        y0 = 20 + k * (h - 40) // n
        for x in range(10, w - 10):
            y = int(round(y0 + (x - 10) * t))
            if 0 <= y < h:
                img[y, x] = 0
    return img


# -- calculateMedian parity (analyzer.go:209-232) --------------------------

def test_median_odd():
    assert hough.calculate_median([3.0, 1.0, 2.0]) == 2.0


def test_median_even_mean_of_middle_two():
    assert hough.calculate_median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_median_empty():
    assert hough.calculate_median([]) == 0.0


# -- guard semantics (analyzer.go:181-183, 195-198) ------------------------

def test_blank_page_returns_zero():
    blank = np.full((200, 200), 255, dtype=np.uint8)
    assert hough.skew_angle_hough(blank) == 0.0


def test_under_ten_lines_returns_zero():
    # a single line produces < 10 segments => guard fires
    img = np.full((120, 400), 255, dtype=np.uint8)
    img[60, 10:390] = 0
    assert hough.skew_angle_hough(img) == 0.0


def test_steep_lines_excluded():
    # vertical lines vote plenty but |angle| >= 45 excludes them all
    img = np.full((400, 300), 255, dtype=np.uint8)
    for k in range(15):
        img[10:390, 15 + 18 * k] = 0
    assert hough.skew_angle_hough(img) == 0.0


# -- machinery: the Hough transform finds the true lines -------------------

def test_hough_machinery_recovers_angle():
    """The long segments found by the transform carry the true angle
    (the reference-literal maxLineGap=0 also fragments fine rasters into
    degenerate 0-length pieces — OpenCV behaves identically — so the
    assertion is on the recovered full-length lines, with a small gap)."""
    edges = hough.canny(lines_img(3))
    segs = hough.hough_lines_p(edges, 1.0, math.pi / 180, 100, max_line_gap=2)
    long_segs = [
        (x1, y1, x2, y2)
        for x1, y1, x2, y2 in segs
        if max(abs(x2 - x1), abs(y2 - y1)) > 300
    ]
    assert len(long_segs) >= 8  # 12 rendered lines, canny doubles edges
    for x1, y1, x2, y2 in long_segs:
        a = math.degrees(math.atan2(y2 - y1, x2 - x1))
        assert abs(a - 3.0) < 0.5


def test_canny_edges_on_line():
    e = hough.canny(lines_img(0, n=3))
    assert e.sum() > 0
    # edges concentrate next to the drawn rows
    ys, _ = np.nonzero(e)
    drawn = {20 + k * 260 // 3 for k in range(3)}
    assert all(min(abs(y - d) for d in drawn) <= 2 for y in np.unique(ys))


def test_reference_params_below_evidence_on_small_pages():
    """With the literal reference parameters (vote threshold 100,
    maxLineGap 0), small fine-rastered pages fall below the evidence
    guard and the estimator reports 0.0 — the reference server leaves
    such pages uncorrected.  This pins why deskew falls back to the
    projection-profile search."""
    from mcp_ocr_server_spark.imaging.png import decode_png
    from mcp_ocr_server_spark.sources.synthetic import CorpusConfig, media_item

    cfg = CorpusConfig(n_docs=24)
    page = None
    j = 0
    while page is None:
        ref, png, deg, txt = media_item(cfg, j)
        if deg == "skewed_3deg":
            page = kernels.binarize_otsu(decode_png(png))
        j += 1
    assert hough.skew_angle_hough(page) == 0.0
    # ... while the profile refinement recovers the render angle
    assert abs(kernels.estimate_skew(page) + 3.0) <= 0.3


def test_deskew_dispatch_hough_profile():
    """deskew corrects a 3-degree page via the profile refinement
    when the reference estimator reports no evidence."""
    from mcp_ocr_server_spark.imaging.font import render_text

    img = render_text("HELLO WORLD THIS IS A TEST LINE", scale=3)
    pad = 20
    img = np.pad(img, pad, mode="constant", constant_values=255)
    rot = kernels.rotate(img, 3.0)
    out = kernels.deskew(kernels.binarize_otsu(rot), 10.0)
    assert abs(kernels.estimate_skew(out)) <= 0.5


# -- K2 NL-means -----------------------------------------------------------

def _noisy_pair():
    rng = np.random.default_rng(1234)
    clean = np.full((64, 96), 220, dtype=np.float64)
    clean[20:44, 16:80] = 40.0  # dark block: edges must survive
    noisy = np.clip(
        clean + rng.normal(0, 12, clean.shape), 0, 255
    ).astype(np.uint8)
    return clean, noisy


def test_nlmeans_reduces_noise_preserves_edges():
    clean, noisy = _noisy_pair()
    out = kernels.nl_means_denoise(noisy, h=10.0)
    mse_before = float(((noisy.astype(float) - clean) ** 2).mean())
    mse_after = float(((out.astype(float) - clean) ** 2).mean())
    assert mse_after < mse_before * 0.35
    # the block edge stays sharp: interior means remain far apart
    assert out[30:40, 30:60].mean() < 80
    assert out[:10].mean() > 190


def test_nlmeans_identity_on_flat_image():
    flat = np.full((40, 40), 128, dtype=np.uint8)
    assert np.array_equal(kernels.nl_means_denoise(flat), flat)


def test_nlmeans_committed_expected_output():
    """Regression pin: deterministic input -> committed output digest.
    Any change to the weighting semantics (h, patch, search, border
    handling) shows up here and requires regenerating the e2e goldens."""
    _clean, noisy = _noisy_pair()
    out = kernels.nl_means_denoise(noisy)
    digest = hashlib.sha256(out.tobytes()).hexdigest()[:16]
    assert digest == EXPECTED_NLMEANS_DIGEST, digest


EXPECTED_NLMEANS_DIGEST = "7d087c505d936eee"

