"""The native NL-means offset loop (native.py) against its numpy
reference, its weight table, its deadline and its parameter checks.

`kernels.nl_means_denoise` runs the C loop wherever it builds and
`kernels._nl_means_denoise_numpy` otherwise; both must give the same
page bit for bit.  The digests they must produce are in
`test_kernel_pins.py`; the shared build, cache and fallback rules are
tested in `test_hough_native.py`.
"""

from __future__ import annotations

import math
import shutil

import numpy as np
import pytest

from mcp_ocr_server_spark import deadline as deadline_mod, native as native_mod
from mcp_ocr_server_spark.imaging import kernels

needs_cc = pytest.mark.skipif(shutil.which("cc") is None, reason="no C compiler")

_NUMPY = kernels._nl_means_denoise_numpy  # kept before `native` patches the name


@pytest.fixture
def native(monkeypatch):
    """nl_means_denoise on the C loop only: fail rather than fall back."""
    assert native_mod.load() is not None, "cc is present but the loop did not build"

    def no_fallback(*_a, **_k):
        raise AssertionError("nl_means_denoise fell back to numpy")

    monkeypatch.setattr(kernels, "_nl_means_denoise_numpy", no_fallback)
    return kernels.nl_means_denoise


def _noisy(shape, seed) -> np.ndarray:
    """Two ink levels plus Gaussian noise: patch distances from 0 to
    tens of thousands, so weights run from 1 down past the table's end."""
    rng = np.random.default_rng(seed)
    clean = np.where(rng.random(shape) < 0.5, 40, 220)
    return np.clip(clean + rng.normal(0, 25, shape), 0, 255).astype(np.uint8)


@needs_cc
def test_native_matches_numpy_reference(native):
    """Every (h, template, search) of the grid on 1x1, 1xN, Nx1 and
    300x400 pages.  At h=0.5 nearly every weight but the centre's is
    +0.0 (past the table); at h=100 every weight is near 1."""
    pages = [_noisy(shape, i) for i, shape in enumerate([(1, 1), (1, 37), (29, 1), (300, 400)])]
    mismatched = []
    for h in (0.5, 3.0, 10.0, 100.0):
        for template in (1, 3, 5, 7, 9):
            for search in (1, 3, 5, 21):
                for img in pages:
                    got = native(img, h=h, template=template, search=search)
                    want = _NUMPY(img, h=h, template=template, search=search)
                    assert got.dtype == np.uint8 and got.shape == img.shape
                    if not np.array_equal(got, want):
                        mismatched.append((img.shape, h, template, search))
    assert not mismatched


@pytest.mark.parametrize("h,template,size", [
    (3.0, 7, 45852),     # the live path's defaults
    (0.5, 9, 2106),
    (100.0, 5, 25 * 255**2 + 1),  # no weight underflows: the whole range
])
def test_weight_table_is_numpy_exp_over_every_distance(h, template, size):
    scale = kernels._nl_means_scale(h, template)
    table = kernels._nl_means_weights(scale, template)
    d = np.arange(template * template * 255 * 255 + 1, dtype=np.int32)
    full = np.exp(np.multiply(d, scale, dtype=np.float32))
    n = table.size - 1
    assert n == size
    assert np.array_equal(table[:n].view(np.uint32), full[:n].view(np.uint32))
    # past the table every weight is +0.0, bit for bit, as is the entry
    # the C loop reads for those distances
    assert not full[n:].view(np.uint32).any()
    assert table[n:].view(np.uint32).tolist() == [0]


@needs_cc
def test_native_expired_deadline_raises(native):
    with pytest.raises(deadline_mod.DeadlineExceeded, match="nl_means_denoise"):
        native(_noisy((40, 50), 3), deadline=0.0)  # time.monotonic() > 0


@needs_cc
def test_native_checks_deadline_between_offset_rows(native, monkeypatch):
    checks = []
    monkeypatch.setattr(kernels, "check_deadline", lambda d, stage: checks.append(stage))
    native(_noisy((20, 30), 4), search=9)
    assert checks == ["nl_means_denoise"] * 9


@pytest.mark.parametrize("kw,name", [
    (dict(h=0), "h"), (dict(h=-3.0), "h"), (dict(h=math.nan), "h"),
    (dict(h=math.inf), "h"), (dict(h="3"), "h"), (dict(h=1e-30), "h"),
    (dict(template=0), "template"), (dict(template=6), "template"),
    (dict(template=-7), "template"), (dict(template=7.0), "template"),
    (dict(template=True), "template"),
    (dict(search=0), "search"), (dict(search=20), "search"), (dict(search=-21), "search"),
])
def test_bad_parameters_are_refused_by_name(kw, name):
    with pytest.raises(ValueError, match=rf"nl_means_denoise: {name} (must|is)"):
        kernels.nl_means_denoise(_noisy((12, 12), 5), **kw)


def test_inputs_outside_the_native_bounds_use_the_numpy_body(monkeypatch):
    """Pixels that are not uint8 can make distances past the weight
    table's range, and a template above 11 a table too large to build,
    so both go to the numpy body."""
    calls = []

    def spy(*a, **k):
        calls.append(k.get("template", a[2]))
        return _NUMPY(*a, **k)

    monkeypatch.setattr(kernels, "_nl_means_denoise_numpy", spy)
    img = _noisy((15, 18), 6)
    wide = img.astype(np.int16)
    assert np.array_equal(kernels.nl_means_denoise(wide, search=5), _NUMPY(wide, search=5))
    kernels.nl_means_denoise(img, template=13, search=3)
    assert calls == [7, 13]
    calls.clear()
    kernels.nl_means_denoise(img, template=11, search=3)
    assert calls == ([] if native_mod.load() is not None else [11])
