"""Kernel unit tests vs analytic oracles (SURVEY.md §5 strategy item 1).

Each K1-K9 kernel on synthetic inputs with known properties, asserting
the reference's decision thresholds and guard conditions
(analyzer.go:116-166, preprocessor.go:129-339).
"""

import numpy as np

from mcp_ocr_server_spark.imaging import kernels
from mcp_ocr_server_spark.imaging.font import render_text


def test_grayscale_weights():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    img[0, 0] = [255, 0, 0]  # R
    img[0, 1] = [0, 255, 0]  # G
    img[1, 0] = [0, 0, 255]  # B
    img[1, 1] = [255, 255, 255]
    g = kernels.grayscale(img)
    assert g[0, 0] == round(0.299 * 255)
    assert g[0, 1] == round(0.587 * 255)
    assert g[1, 0] == round(0.114 * 255)
    assert g[1, 1] == 255


def test_grayscale_passthrough_on_gray():
    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert (kernels.grayscale(img) == img).all()


def test_brightness_saturating_add():
    """preprocessor.go:310-314 beta=±30 saturating."""
    img = np.array([[0, 100, 240]], dtype=np.uint8)
    assert (kernels.brighten(img) == [[30, 130, 255]]).all()
    assert (kernels.darken(img) == [[0, 70, 210]]).all()


def test_otsu_bimodal():
    """Otsu must split a clean bimodal histogram between the modes."""
    img = np.concatenate(
        [np.full((10, 10), 40, np.uint8), np.full((10, 10), 200, np.uint8)]
    )
    t = kernels.otsu_threshold_value(img)
    assert 40 <= t < 200
    b = kernels.binarize_otsu(img)
    assert set(np.unique(b)) == {0, 255}
    assert (b[:10] == 0).all() and (b[10:] == 255).all()


def test_otsu_on_text_image_preserves_glyphs():
    img = render_text("OTSU", scale=2)
    noisy = np.clip(img.astype(np.int16) * 0.3 + 90, 0, 255).astype(np.uint8)
    b = kernels.binarize_otsu(noisy)
    # ink pixels (value 0) survive binarization in the same positions
    assert ((b == 0) == (img == 0)).all()


def test_adaptive_mean_binarization():
    """Block 11, C 2.0 defaults (config.go:205-206): a dark spot on a
    uniform background binarizes to ink, background to white."""
    img = np.full((30, 30), 128, dtype=np.uint8)
    img[14:16, 14:16] = 20
    b = kernels.binarize_adaptive_mean(img)
    assert b[15, 15] == 0
    assert b[0, 0] == 255


def test_sharpness_blur_ordering():
    """Laplacian variance: sharp text >> blurred text (A1 threshold basis)."""
    img = render_text("SHARPNESS TEST IMAGE", scale=3)
    blurred = kernels._box_mean(kernels._box_mean(img, 9), 9).astype(np.uint8)
    assert kernels.sharpness(img) > 100 > kernels.sharpness(blurred)


def test_contrast_and_brightness_metrics():
    flat = np.full((10, 10), 77, dtype=np.uint8)
    assert kernels.contrast(flat) == 0.0
    assert kernels.brightness(flat) == 77.0


def test_clahe_raises_contrast():
    img = np.clip(render_text("LOW CONTRAST", scale=3) * 0.08 + 125, 0, 255).astype(
        np.uint8
    )
    assert kernels.contrast(img) < 30
    out = kernels.clahe(img)
    assert kernels.contrast(out) > kernels.contrast(img)


def test_rotate_roundtrip():
    img = render_text("ROTATE ME", scale=3, margin=20)
    rot = kernels.rotate(img, 5.0)
    back = kernels.rotate(rot, -5.0)
    ink_orig = (img < 128).sum()
    ink_back = (back < 128).sum()
    assert abs(ink_back - ink_orig) / ink_orig < 0.25


def test_estimate_skew_accuracy():
    img = np.pad(render_text("SKEW ANGLE ESTIMATION TEST", scale=3), 40, constant_values=255)
    for true in (2.0, 3.0, -5.0, 8.0, -9.0):
        rot = kernels.rotate(img, true)
        est = kernels.estimate_skew(rot)
        assert abs(est - true) <= 0.4, (true, est)


def test_estimate_skew_insufficient_evidence_returns_zero():
    """Mirror of the <10-Hough-lines guard (analyzer.go:180-182)."""
    blank = np.full((50, 50), 255, dtype=np.uint8)
    assert kernels.estimate_skew(blank) == 0.0


def test_deskew_apply_thresholds():
    """Rotate only if 0.5 < |angle| < 10.0 (preprocessor.go:246-252)."""
    img = np.pad(render_text("DESKEW THRESHOLD CHECK", scale=3), 60, constant_values=255)
    # small skew (<0.5) untouched
    r0 = kernels.rotate(img, 0.2)
    assert (kernels.deskew(r0) == r0).all()
    # 15 deg > limit 10 => NOT corrected (FIXTURES.md skewed_15deg case)
    r15 = kernels.rotate(img, 15.0)
    assert (kernels.deskew(r15) == r15).all()
    # 5 deg => corrected
    r5 = kernels.rotate(img, 5.0)
    out = kernels.deskew(r5)
    assert not (out == r5).all()
    assert abs(kernels.estimate_skew(out)) <= 0.5


def test_resize_aspect_preserving():
    """preprocessor.go:317-339: one dim given => preserve aspect."""
    img = np.zeros((40, 80), dtype=np.uint8)
    out = kernels.resize(img, width=40)
    assert out.shape == (20, 40)
    out = kernels.resize(img, height=20)
    assert out.shape == (20, 40)
    assert (kernels.resize(img) == img).all()
