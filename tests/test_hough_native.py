"""The native Hough loop (native.py) against its numpy reference, its
deadline, and the native library's build, cache and fallback rules
(shared with the NL-means loop, test_nlmeans_native.py, and the AES-CBC
loop, test_aes_native.py).

`hough.hough_lines_p` runs the C loop wherever it builds and
`hough._hough_lines_p_numpy` otherwise; both must give the same
segment list bit for bit.  The digests these maps must produce are in
`test_kernel_pins.py`.
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from mcp_ocr_server_spark import deadline as deadline_mod, native as native_mod
from mcp_ocr_server_spark.imaging import hough

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_cc = pytest.mark.skipif(shutil.which("cc") is None, reason="no C compiler")

_NUMPY = hough._hough_lines_p_numpy  # kept before `native` patches the name


@pytest.fixture
def native(monkeypatch):
    """hough_lines_p on the C loop only: fail rather than fall back."""
    assert native_mod.load() is not None, "cc is present but the loop did not build"

    def no_fallback(*_a, **_k):
        raise AssertionError("hough_lines_p fell back to numpy")

    monkeypatch.setattr(hough, "_hough_lines_p_numpy", no_fallback)
    return hough.hough_lines_p


def _grid():
    """Seeded maps over rho_res x theta_res x (default, min_line_length 5,
    max_lines 5, max_line_gap 1, max_line_gap 3), plus degenerate shapes.

    rho_res 2 puts bin rounding on exact .5 ties (at theta 0, r = x/2),
    and theta_res atan(1/2) makes one theta's walk step exactly 0.5 px,
    so the walk rounds a tie every other step: both need rint's
    half-to-even, not C's round()."""
    rng = np.random.default_rng(13)
    for rho_res in (0.5, 1.0, 1.5, 2.0):
        for theta_res in (math.pi / 90, math.pi / 180, math.pi / 360):
            for extra in (
                {}, {"min_line_length": 5}, {"max_lines": 5},
                {"max_line_gap": 1}, {"max_line_gap": 3},
            ):
                h, w = (int(v) for v in rng.integers(10, 121, 2))
                edges = rng.random((h, w)) < rng.uniform(0.02, 0.5)
                thr = int(rng.integers(5, 80))
                yield edges, dict(rho_res=rho_res, theta_res=theta_res, threshold=thr, **extra)
    for edges in (
        np.zeros((50, 60), dtype=bool),
        np.ones((40, 40), dtype=bool),
        rng.random((1, 200)) < 0.7,
        rng.random((200, 1)) < 0.7,
    ):
        for gap in (0, 3):
            yield edges, dict(threshold=3, max_line_gap=gap)
    assert np.sin(math.atan2(1, 2)) / np.cos(math.atan2(1, 2)) == 0.5
    for gap in (0, 3):
        edges = rng.random((60, 70)) < 0.2
        yield edges, dict(theta_res=math.atan2(1, 2), threshold=8, max_line_gap=gap)


@needs_cc
def test_native_matches_numpy_reference(native):
    cases = list(_grid())
    assert len(cases) == 70
    mismatched = []
    for i, (edges, kw) in enumerate(cases):
        want = _NUMPY(edges, **kw)
        got = native(edges, **kw)
        assert all(type(v) is int for seg in got for v in seg)
        if got != want:
            mismatched.append((i, kw))
    assert not mismatched
    # the grid is not vacuous: it finds segments, and caps some at max_lines
    segs = [_NUMPY(e, **kw) for e, kw in cases]
    assert sum(map(len, segs)) > 1000
    assert any(len(s) == 5 and kw.get("max_lines") == 5 for s, (_e, kw) in zip(segs, cases))


def test_parameters_outside_the_native_bounds_use_the_numpy_body():
    """The C loop indexes its accumulator unchecked, so parameters its
    bounds argument does not cover go to the numpy body.  A negative
    rho_res below -(h + w) gives max_rho 0 while |rho| rounds to 1, one
    bin past the last theta's row; the numpy body refuses it."""
    edges = np.random.default_rng(6).random((40, 50)) < 0.3
    with pytest.raises(ValueError, match="negative"):
        hough.hough_lines_p(edges, rho_res=-91.0, threshold=10)
    for kw in (
        dict(theta_res=np.longdouble(math.pi / 180)),
        dict(threshold=np.int64(10)),
        dict(max_line_gap=2**70),
    ):
        kw = {"threshold": 10, **kw}
        assert hough.hough_lines_p(edges, **kw) == _NUMPY(edges, **kw)


@pytest.mark.parametrize("impl", ["live", "numpy"])
@pytest.mark.parametrize("chunk", [0, -1, -128])
def test_chunk_below_one_is_refused(impl, chunk):
    """A chunk of 0 never advanced the numpy body's loop; both paths
    refuse it, and negative sizes, before any work."""
    fn = hough.hough_lines_p if impl == "live" else _NUMPY
    with pytest.raises(ValueError, match="chunk must be >= 1"):
        fn(np.ones((5, 5), dtype=bool), threshold=1, chunk=chunk)


@needs_cc
def test_native_expired_deadline_raises(native):
    edges = np.random.default_rng(3).random((80, 80)) < 0.3
    with pytest.raises(deadline_mod.DeadlineExceeded, match="hough"):
        native(edges, threshold=10, deadline=0.0)  # time.monotonic() > 0


@needs_cc
def test_native_checks_deadline_between_chunks(native, monkeypatch):
    """The deadline is checked before every chunk of points, so a long
    page cannot run past it by more than one chunk."""
    edges = np.random.default_rng(4).random((60, 70)) < 0.25
    checks = []
    monkeypatch.setattr(hough, "check_deadline", lambda d, stage: checks.append(stage))
    native(edges, threshold=1000, chunk=64)  # never triggers: visits every point
    assert checks == ["hough_lines_p"] * math.ceil(int(edges.sum()) / 64)


@needs_cc
def test_source_compiles_without_warnings(tmp_path):
    # no flag may let the compiler fuse x*c + y*s or reassociate: the
    # grid above cannot see a one-ulp change in a bin's rho
    assert "-ffp-contract=off" in native_mod.CFLAGS
    assert not any(f.startswith(("-march", "-ffast-math", "-Ofast")) for f in native_mod.CFLAGS)
    src = tmp_path / "kernels.c"
    src.write_text(native_mod.SOURCE)
    proc = subprocess.run(
        ["cc", *native_mod.CFLAGS, "-Wall", "-Wextra", "-Werror",
         "-o", str(tmp_path / "kernels.so"), str(src), "-lm"],
        capture_output=True, text=True,
    )
    assert proc.returncode == 0, proc.stderr


_FALLBACK_SCRIPT = textwrap.dedent("""
    import logging, sys
    sys.path[:0] = [sys.argv[1], sys.argv[1] + "/tests"]
    logging.basicConfig(level=logging.WARNING, format="WARNING %(name)s %(message)s")
    from mcp_ocr_server_spark import native
    from mcp_ocr_server_spark.functions import pdf, pdfcrypt
    from mcp_ocr_server_spark.imaging import hough, kernels
    from mcp_ocr_server_spark.sources import synthetic
    from test_kernel_pins import (
        HOUGH_RANDOM_PINS, NLMEANS_PINS, _digest, _nlmeans_input, _random_segments,
    )
    print("loaded", native.load() is not None)
    print("digest ok", _digest(_random_segments(hough.hough_lines_p, 0)) == HOUGH_RANDOM_PINS[0])
    out = kernels.nl_means_denoise(_nlmeans_input("blurry_44x444"))
    print("nl-means ok", _digest([out]) == NLMEANS_PINS["blurry_44x444"])
    print("hash_2b ok", pdfcrypt.hash_2b(b"secret", b"saltsalt").hex() == sys.argv[2])
    r6 = synthetic.encrypt_pdf_bytes(
        synthetic.make_pdf_bytes([["owner locked"]]), owner_pw=b"owner", r=6
    )
    row = pdf.pdf_text_row("r6.pdf", r6)
    print("r6 ok", b"/AESV3" in r6 and row["error"] is None and row["text"] == "owner locked")
""")
_HASH_2B_PIN = "f28f56ef5747965c3a052f8e074560c8fb02d13283508c02219717d36ef23e4c"
_FALLBACK_OUT = ["loaded False", "digest ok True", "nl-means ok True", "hash_2b ok True", "r6 ok True"]


def _run_without_cc(tmp_path) -> subprocess.CompletedProcess:
    """A fresh interpreter whose PATH has no cc and whose cache dirs
    (`$XDG_CACHE_HOME`, then the temp dir) are under tmp_path."""
    (tmp_path / "bin").mkdir()
    (tmp_path / "tmp").mkdir(exist_ok=True)
    env = {
        "PATH": str(tmp_path / "bin"),
        "HOME": str(tmp_path / "home"),
        "XDG_CACHE_HOME": str(tmp_path / "xdg"),
        "TMPDIR": str(tmp_path / "tmp"),
    }
    return subprocess.run(
        [sys.executable, "-c", _FALLBACK_SCRIPT, REPO, _HASH_2B_PIN],
        env=env, capture_output=True, text=True, timeout=300,
    )


def _warnings(proc) -> list[str]:
    return [ln for ln in proc.stderr.splitlines() if ln.startswith("WARNING")]


def test_fallback_without_cc_gives_pinned_segments_and_one_warning(tmp_path):
    """All three loops fall back to their numpy or Python bodies with
    the pinned outputs (Hough segments, an NL-means page, an Algorithm
    2.B hash and an R6 pdf's text), and the process warns once for the
    shared library."""
    proc = _run_without_cc(tmp_path)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split("\n")[:5] == _FALLBACK_OUT
    warnings = _warnings(proc)
    assert len(warnings) == 1, proc.stderr
    assert "no C compiler" in warnings[0]


@needs_cc
@pytest.mark.parametrize("unsafe", ["dir_mode_0777", "file_mode_0666"])
def test_library_in_unsafe_place_is_not_loaded(tmp_path, unsafe):
    """A built library that group or others could have replaced is
    refused, even though it is present and nothing can rebuild it."""
    cache = tmp_path / "xdg" / "spark-extract"
    cache.mkdir(parents=True, mode=0o700)
    path = str(cache / native_mod._library_name())
    native_mod._build("cc", str(cache), path)
    if unsafe == "dir_mode_0777":
        os.chmod(cache, 0o777)
    else:
        os.chmod(path, 0o666)
    proc = _run_without_cc(tmp_path)
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split("\n")[:5] == _FALLBACK_OUT
    assert len(_warnings(proc)) == 1, proc.stderr
