"""Byte-identity pins for the two costliest preprocess kernels.

The committed goldens and the benchmark's span gate both compare
against outputs computed by the code under test, so an exact rewrite
of a kernel's inner loop could drift without either noticing.  The
digests come from the kernels as they stood before their inner loops
were rewritten for speed, and must not move: a change here means the
kernel's output changed.  Each Hough and NL-means pin is checked on the
live path (the native loop where it builds) and on the numpy body the
native loop must match.
"""

from __future__ import annotations

import hashlib
import tracemalloc

import numpy as np
import pytest

from mcp_ocr_server_spark.config import FIXTURE_JOB
from mcp_ocr_server_spark.imaging import analyzer, hough, kernels
from mcp_ocr_server_spark.imaging.png import decode_png
from mcp_ocr_server_spark.sources.synthetic import (
    CorpusConfig,
    media_exists,
    media_item,
)

# the images_cold library (perfbench/workloads.py builds the same corpus)
LIBRARY = CorpusConfig(n_docs=384, n_media=128)


def _digest(values) -> str:
    h = hashlib.sha256()
    for v in values:
        h.update(v.tobytes() if isinstance(v, np.ndarray) else repr(v).encode())
    return h.hexdigest()[:16]


def _library_gray(j: int) -> np.ndarray:
    return kernels.grayscale(decode_png(media_item(LIBRARY, j)[1]))


def _random_maps():
    """40 seeded edge maps: sizes 20-200, densities 0.02-0.6, and a vote
    threshold low enough on most of them that segments trigger (some
    hit the max_lines cap)."""
    rng = np.random.default_rng(2024)
    for _ in range(40):
        h, w = (int(v) for v in rng.integers(20, 201, 2))
        density = float(rng.uniform(0.02, 0.6))
        threshold = int(rng.integers(10, 101))
        yield rng.random((h, w)) < density, threshold


# -- K5 Hough ----------------------------------------------------------------

def _library_segments(impl):
    """Canny maps of the first 48 binarised library pages, with the
    reference's deskew parameters."""
    segs = []
    for j in range(48):
        edges = hough.canny(kernels.binarize_otsu(_library_gray(j)))
        segs.append(impl(edges))
    return segs


def test_hough_segments_pinned_on_library_pages():
    segs = _library_segments(hough.hough_lines_p)
    assert sum(map(len, segs)) == 17957
    assert _digest(segs) == "ad1c29472144eea2"


def test_numpy_hough_segments_pinned_on_library_pages():
    segs = _library_segments(hough._hough_lines_p_numpy)
    assert sum(map(len, segs)) == 17957
    assert _digest(segs) == "ad1c29472144eea2"


HOUGH_RANDOM_PINS = {0: "bb39942431f0364c", 2: "1f06a4fd05cf4fcf"}


def _random_segments(impl, gap):
    return [
        impl(edges, threshold=thr, max_line_gap=gap)
        for edges, thr in _random_maps()
    ]


@pytest.mark.parametrize("gap", list(HOUGH_RANDOM_PINS))
def test_hough_segments_pinned_on_random_maps(gap):
    segs = _random_segments(hough.hough_lines_p, gap)
    assert _digest(segs) == HOUGH_RANDOM_PINS[gap]


@pytest.mark.parametrize("gap", list(HOUGH_RANDOM_PINS))
def test_numpy_hough_segments_pinned_on_random_maps(gap):
    segs = _random_segments(hough._hough_lines_p_numpy, gap)
    assert _digest(segs) == HOUGH_RANDOM_PINS[gap]


# -- K5+K6 deskew --------------------------------------------------------------

def _distinct_library_pages() -> list[int]:
    """The images_cold work units: media indices below n_media that exist,
    fit the fixture job's max_image_size and whose bytes no lower index
    already holds (the OCR stage hash-dedups media)."""
    seen, pages = set(), []
    for j in range(LIBRARY.n_media):
        if not media_exists(LIBRARY, j):
            continue
        data = media_item(LIBRARY, j)[1]
        digest = hashlib.sha256(data).digest()
        if len(data) <= FIXTURE_JOB.ocr.max_image_size and digest not in seen:
            seen.add(digest)
            pages.append(j)
    return pages


@pytest.fixture(scope="module")
def deskew_inputs() -> list[tuple[int, np.ndarray]]:
    """Each distinct library page as the OCR stage hands it to deskew:
    the analyzer's suggested steps before "deskew" (grayscale, then
    brighten/darken, CLAHE or NL-means as the page needs, then Otsu)."""
    cfg = FIXTURE_JOB.preprocessing
    out = []
    for j in _distinct_library_pages():
        img = decode_png(media_item(LIBRARY, j)[1])
        steps = analyzer.analyze(img, cfg).suggested_pipeline
        for step in steps[: steps.index("deskew")]:
            img = analyzer.apply_step(img, step, cfg)
        out.append((j, img))
    return out


def test_deskew_output_pinned_on_library_pages(deskew_inputs):
    assert len(deskew_inputs) == 108
    limit = FIXTURE_JOB.preprocessing.deskew_angle_limit
    outs = [kernels.deskew(img, limit) for _j, img in deskew_inputs]
    assert _digest(outs) == "e155c17d72a49cbd"


def test_hough_skew_angle_pinned_on_library_pages(deskew_inputs):
    """The reference estimator fires on two pages only: 12.67 deg on
    j=18 (past the 10 deg limit, so deskew does not rotate it) and
    9.46 deg on j=102 (rotated)."""
    angles = [hough.skew_angle_hough(img) for _j, img in deskew_inputs]
    assert _digest(angles) == "397bd4c9baea0da8"
    fired = {j: round(a, 2) for (j, _img), a in zip(deskew_inputs, angles) if a}
    assert fired == {18: 12.67, 102: 9.46}


# -- K2 NL-means ---------------------------------------------------------------

NLMEANS_PINS = {
    "random_11x11": "23fe188f3eadc515",
    "flat_40x40": "1719c8cde412ad39",
    "random_300x400": "50979ba9a996b07c",
    "blurry_44x444": "256761308c1940fc",
}


def _nlmeans_input(name: str) -> np.ndarray:
    rng = np.random.default_rng(7)
    return {
        "random_11x11": lambda: rng.integers(0, 256, (11, 11), dtype=np.uint8),
        "flat_40x40": lambda: np.full((40, 40), 128, dtype=np.uint8),
        "random_300x400": lambda: rng.integers(0, 256, (300, 400), dtype=np.uint8),
        # library page 6: the first blurry page, the case the analyzer denoises
        "blurry_44x444": lambda: _library_gray(6),
    }[name]()


@pytest.mark.parametrize("name", list(NLMEANS_PINS))
def test_nlmeans_output_pinned(name):
    img = _nlmeans_input(name)
    out = kernels.nl_means_denoise(img)
    assert out.shape == img.shape and out.dtype == np.uint8
    assert _digest([out]) == NLMEANS_PINS[name]


@pytest.mark.parametrize("name", list(NLMEANS_PINS))
def test_numpy_nlmeans_output_pinned(name):
    out = kernels._nl_means_denoise_numpy(_nlmeans_input(name))
    assert _digest([out]) == NLMEANS_PINS[name]


def _nl_means_reference(gray, h, template, search):
    """The plain per-offset loop: int64 integral images and the
    B2(x+v) + B2(x) - 2*box(I * I_v) distance identity.  The kernel must
    match it bit for bit at any (odd) template and search size."""
    t, s = template // 2, search // 2
    H, W = gray.shape
    pad = s + t
    pi = np.pad(gray, pad, mode="reflect").astype(np.int64)
    pf = pi.astype(np.float32)
    scale = np.float32(-(1.0 / (h * h)) / float(template * template))

    def box(a):
        ii = np.pad(np.cumsum(np.cumsum(a, axis=0), axis=1), ((1, 0), (1, 0)))
        T = template
        return ii[T:, T:] - ii[:-T, T:] - ii[T:, :-T] + ii[:-T, :-T]

    b2 = box(pi * pi)
    centre = pi[pad - t : pad + H + t, pad - t : pad + W + t]
    num = np.zeros((H, W), dtype=np.float32)
    den = np.zeros((H, W), dtype=np.float32)
    for dy in range(-s, s + 1):
        for dx in range(-s, s + 1):
            if dy == 0 and dx == 0:
                num += pf[pad : pad + H, pad : pad + W]
                den += 1.0
                continue
            sh = pi[pad + dy - t : pad + dy + H + t, pad + dx - t : pad + dx + W + t]
            d2 = (b2[s : s + H, s : s + W] + b2[s + dy : s + dy + H, s + dx : s + dx + W]
                  - 2 * box(centre * sh))
            w = np.exp(d2.astype(np.float32) * scale, dtype=np.float32)
            num += w * pf[pad + dy : pad + dy + H, pad + dx : pad + dx + W]
            den += w
    return np.clip(np.round(num / den), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("shape,h,template,search", [
    ((23, 31), 3.0, 7, 21),
    ((17, 40), 10.0, 3, 5),
    ((30, 12), 5.0, 5, 9),
    ((9, 50), 3.0, 1, 7),
    ((60, 45), 4.0, 9, 3),
])
def test_nlmeans_matches_per_offset_reference(shape, h, template, search):
    rng = np.random.default_rng(sum(shape) + template + search)
    clean = np.where(rng.random(shape) < 0.5, 40, 220)
    img = np.clip(clean + rng.normal(0, 25, shape), 0, 255).astype(np.uint8)
    got = kernels.nl_means_denoise(img, h=h, template=template, search=search)
    assert np.array_equal(got, _nl_means_reference(img, h, template, search))


def _large_page_peak_and_digest(impl) -> tuple[int, str]:
    img = np.random.default_rng(11).integers(0, 256, (1024, 1024), dtype=np.uint8)
    tracemalloc.start()
    try:
        out = impl(img)
        _cur, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    return peak, _digest([out])


def test_nlmeans_peak_memory_bounded_on_large_page():
    """Offsets may be batched, but never so many at once that a large
    page's working set explodes: a 1024x1024 page stays under 80 MB of
    traced peak (batching all 21 offsets of a row would take ~550 MB).
    Its output is pinned too."""
    peak, digest = _large_page_peak_and_digest(kernels.nl_means_denoise)
    assert peak <= 80 * 2**20, peak / 2**20
    assert digest == "9b570b41fab50e6c"


def test_numpy_nlmeans_peak_memory_bounded_on_large_page():
    peak, digest = _large_page_peak_and_digest(kernels._nl_means_denoise_numpy)
    assert peak <= 80 * 2**20, peak / 2**20
    assert digest == "9b570b41fab50e6c"  # one offset per group here
