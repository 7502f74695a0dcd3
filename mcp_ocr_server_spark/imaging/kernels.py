"""Per-image raster kernels K1-K9 (SURVEY.md §2.3), in numpy; the NL-means
offset loop runs in C where it builds (`native`).

Semantics mirror the reference's live path
(internal/preprocessing/preprocessor.go:129-339); implementations are
from-scratch numpy re-derivations of the public algorithms (Otsu 1979,
CLAHE/Zuiderveld 1994, projection-profile deskew — the north_star
explicitly sanctions "deskew via Hough/projection-profile").

Every kernel is `ndarray -> ndarray` on uint8, exactly like the
reference's `Mat -> Mat` stage contract, and is dispatched by name
(applyStep, preprocessor.go:129-192) from pipeline.apply_pipeline.
"""

from __future__ import annotations

import functools
import math
import numbers

import numpy as np

from ..deadline import check_deadline
from .. import native

# --------------------------------------------------------------------------
# K1 grayscale — preprocessor.go:133-138 (CvtColor BGR2GRAY if channels>1).
# Our decoded arrays are RGB order (png.py), so the ITU-R BT.601 weights
# are applied to (R,G,B) — same formula OpenCV uses, channel order adjusted.


def grayscale(img: np.ndarray) -> np.ndarray:
    if img.ndim == 2:
        return img.copy()
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    return np.clip(np.round(y), 0, 255).astype(np.uint8)


def _ensure_gray(img: np.ndarray) -> np.ndarray:
    return img if img.ndim == 2 else grayscale(img)


# --------------------------------------------------------------------------
# K8 brighten/darken — preprocessor.go:310-314: ConvertTo(alpha=1, beta=±30),
# saturating add.

BRIGHTNESS_BETA = 30.0


def adjust_brightness(img: np.ndarray, beta: float) -> np.ndarray:
    return np.clip(img.astype(np.float64) + beta, 0, 255).astype(np.uint8)


def brighten(img: np.ndarray) -> np.ndarray:
    return adjust_brightness(img, BRIGHTNESS_BETA)


def darken(img: np.ndarray) -> np.ndarray:
    return adjust_brightness(img, -BRIGHTNESS_BETA)


# --------------------------------------------------------------------------
# K2 denoise — the live path uses FastNlMeansDenoising with OpenCV
# defaults h=3, template 7, search 21 (preprocessor.go:140-150);
# `nl_means_denoise` is a from-scratch implementation of the underlying
# Buades/Coll/Morel 2005 algorithm with those parameters.
# Known divergence from OpenCV (documented for the parity audit):
# OpenCV's "fast" variant uses integer LUT-approximated exponentials;
# our weights are numpy's float32 exp of the exact integer patch
# distance, so outputs differ at the unit-rounding level but follow the
# same weighting semantics.  This is the one denoise kernel: the
# reference's median blur (internal/preprocessing/denoise.go:44-57) is a
# dead path there and has no counterpart here.

# The native loop takes templates up to 11: its weight table is built
# over every possible distance, 121 * 255**2 + 1 < 2**23 of them.
_NATIVE_MAX_TEMPLATE = 11


def _nl_means_scale(h: float, template: int) -> np.float32:
    return np.float32(-(1.0 / (h * h)) / float(template * template))


@functools.lru_cache(maxsize=4)
def _nl_means_weights(scale: np.float32, template: int) -> np.ndarray:
    """numpy's float32 weight of every patch distance d in
    0..template**2 * 255**2, computed as the numpy body computes it,
    cut after the last nonzero weight, plus one +0.0 for the distances
    past it.  Built in blocks, so the transient arrays stay small; for
    h=3 and a 7x7 template it holds 45,852 weights (179 KB)."""
    n = template * template * 255 * 255 + 1
    blocks, zeros = [], 0
    for lo in range(0, n, 2**16):
        d = np.arange(lo, min(lo + 2**16, n), dtype=np.int32)
        w = np.exp(np.multiply(d, scale, dtype=np.float32))
        if w.any():
            blocks += [np.zeros(zeros, dtype=np.float32), w]
            zeros = 0
        else:
            zeros += w.size
    table = np.concatenate(blocks)  # d = 0 weighs exp(-0.0) = 1: not empty
    nonzero = np.flatnonzero(table)
    return np.append(table[: nonzero[-1] + 1], np.float32(0.0))


def _check_nl_means_args(h, template, search) -> None:
    for name, v in (("template", template), ("search", search)):
        if isinstance(v, bool) or not (
            isinstance(v, (int, np.integer)) and v > 0 and v % 2 == 1
        ):
            raise ValueError(
                f"nl_means_denoise: {name} must be an odd positive int, got {v!r}"
            )
    if not (isinstance(h, numbers.Real) and math.isfinite(h) and h > 0):
        raise ValueError(f"nl_means_denoise: h must be finite and > 0, got {h!r}")
    # an h so small that the float32 scale overflows to -inf would give
    # the centre weight 0 * -inf = nan and a page of garbage
    with np.errstate(over="ignore"):
        scale = _nl_means_scale(h, template)
    if not np.isfinite(scale):
        raise ValueError(f"nl_means_denoise: h is too small, got {h!r}")


def nl_means_denoise(
    img: np.ndarray,
    h: float = 3.0,
    template: int = 7,
    search: int = 21,
    deadline: float | None = None,
) -> np.ndarray:
    """Non-local means: each pixel is the weight-averaged value of every
    pixel in its `search` x `search` window, weighted by the similarity
    of the `template` x `template` patches around the two pixels.  Run
    only for images the analyzer flags blurry (sharpness < threshold).

    The offset loop runs in C (`native.nlm_offset_row`), one offset row
    `dy` per call, with the cooperative deadline checked between calls.
    Where the C loop cannot be built or loaded, where the input is not
    uint8 or the template is larger than 11, `_nl_means_denoise_numpy`
    runs instead; it is also the reference the C loop must match.

    The C loop matches it bit for bit on any host:
    - a patch distance is an exact integer (a sum of squared 8-bit
      differences), whatever the order of its additions;
    - its weight is read from a table of numpy's own
      `exp(d * scale)` in float32 over every possible distance, cut
      after the last nonzero weight, so every distance past the table
      weighs +0.0 in the numpy body too, and adding +0.0 to the
      non-negative sums changes nothing;
    - `num += w * p` and `den += w` run in float32, per pixel in the
      same (dy, dx) order, with no fused multiply-add;
    - `num / den`, `round` and `clip` stay in numpy."""
    _check_nl_means_args(h, template, search)
    gray = _ensure_gray(img)
    lib = native.load()
    if lib is None or gray.dtype != np.uint8 or template > _NATIVE_MAX_TEMPLATE:
        return _nl_means_denoise_numpy(gray, h, template, search, deadline)
    t, s = template // 2, search // 2
    H, W = gray.shape
    padded = np.pad(gray, s + t, mode="reflect")
    table = _nl_means_weights(_nl_means_scale(h, template), template)
    col = np.empty(W + template - 1, dtype=np.int32)
    num = np.zeros((H, W), dtype=np.float32)
    den = np.zeros((H, W), dtype=np.float32)
    for dy in range(-s, s + 1):
        check_deadline(deadline, "nl_means_denoise")
        lib.nlm_offset_row(
            padded.ctypes.data, padded.shape[1], H, W, template, s, dy,
            table.ctypes.data, table.size - 1,
            col.ctypes.data, num.ctypes.data, den.ctypes.data,
        )
    return np.clip(np.round(num / den), 0, 255).astype(np.uint8)


def _shift_sum(src: np.ndarray, out: np.ndarray, taps: int, step: int) -> None:
    """out[:, i] = sum of src[:, i + k*step] for k < taps."""
    n = out.shape[1]
    if taps == 1:
        np.copyto(out, src[:, :n])
        return
    np.add(src[:, :n], src[:, step : step + n], out=out)
    for k in range(2, taps):
        out += src[:, k * step : k * step + n]


def _nl_means_denoise_numpy(
    img: np.ndarray,
    h: float = 3.0,
    template: int = 7,
    search: int = 21,
    deadline: float | None = None,
) -> np.ndarray:
    """`nl_means_denoise` in numpy: the fallback where the C loop cannot
    be built, and the reference the C loop is tested against.

    One offset row `dy` at a time, its `dx` offsets in groups: each
    group forms (shifted - centre)^2 over the patch-padded frame, box-
    sums it with two separable shift-add passes, and turns the distances
    into float32 weights in one exp.  Then num/den accumulate offset by
    offset in (dy, dx) order, so the float32 sums see the same operands
    in the same order as a plain per-offset loop (the reference in
    tests/test_kernel_pins.py), and the output matches it bit for bit."""
    gray = _ensure_gray(img)
    t = template // 2
    s = search // 2
    H, W = gray.shape
    pad = s + t
    # Patch distances are EXACT integers: a box sum of squared 8-bit
    # differences is at most template^2 * 255^2 (3,186,225 for 7x7), so
    # int32 never wraps, and since that is below 2^24 the conversion to
    # float32 is exact too.  Only the weight exponential rounds.
    pi = np.pad(gray, pad, mode="reflect").astype(np.int32)
    pf = pi.astype(np.float32)
    scale = _nl_means_scale(h, template)
    ph, pw = H + 2 * t, W + 2 * t  # patch-padded frame around the centres
    centre = pi[s : s + ph, s : s + pw]
    # Offsets per group: all `search` of a row on small pages, fewer on
    # large ones, so each int32 work buffer stays near 2^20 elements
    # (4 MB).  Batching a whole row of a 1024x1024 page would peak at
    # ~550 MB; one offset at a time keeps the same page under ~50 MB.
    # Grouping pays because the per-offset work is a handful of numpy
    # passes over the frame: on a 44x444 page a whole row is one group.
    group = max(1, min(search, 2**20 // (ph * pw)))
    # One flattened frame per offset, so both box passes are shift-adds
    # over contiguous rows: the vertical pass shifts by whole frame rows
    # (pw), the horizontal pass by one element.  Horizontal sums that
    # run past a frame row land in columns >= W, which are never read;
    # the last template-1 of each offset are never written (zeros).
    sq = np.empty((group, ph * pw), dtype=np.int32)
    col = np.empty((group, H * pw), dtype=np.int32)
    d2 = np.zeros((group, H * pw), dtype=np.int32)
    wt = np.empty((group, H * pw), dtype=np.float32)
    prod = np.empty((H, W), dtype=np.float32)
    num = np.zeros((H, W), dtype=np.float32)
    den = np.zeros((H, W), dtype=np.float32)
    for dy in range(-s, s + 1):
        # cooperative P4 deadline: one check per offset row (21 rows of
        # 21 offsets each — each row is a bounded slice of the ~441
        # full-frame passes that make this the costliest kernel)
        check_deadline(deadline, "nl_means_denoise")
        for dx0 in range(-s, s + 1, group):
            dxs = range(dx0, min(dx0 + group, s + 1))
            n = len(dxs)
            q = sq[:n]
            for k, dx in enumerate(dxs):
                np.subtract(
                    pi[s + dy : s + dy + ph, s + dx : s + dx + pw], centre,
                    out=q[k].reshape(ph, pw),
                )
            np.multiply(q, q, out=q)
            _shift_sum(q, col[:n], template, pw)
            _shift_sum(col[:n], d2[:n, : H * pw - (template - 1)], template, 1)
            w = wt[:n]
            np.multiply(d2[:n], scale, out=w, dtype=np.float32)
            np.exp(w, out=w)
            # the centre offset needs no special case: its distance is 0,
            # its weight exp(-0.0) = 1.0 exactly, and 1.0 * c0 == c0
            for k, dx in enumerate(dxs):
                wk = w[k].reshape(H, pw)[:, :W]
                np.multiply(
                    wk, pf[pad + dy : pad + dy + H, pad + dx : pad + dx + W],
                    out=prod,
                )
                num += prod
                den += wk
    return np.clip(np.round(num / den), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# K3 Otsu binarization — preprocessor.go:195-225 (default mode, config.go:204).
# Classic between-class-variance maximization over the 256-bin histogram.


def otsu_threshold_value(gray: np.ndarray) -> int:
    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 0
    omega = np.cumsum(hist)
    mu = np.cumsum(hist * np.arange(256))
    mu_t = mu[-1]
    # sigma_b(t) ∝ (N·mu(t) − mu_T·omega(t))² / (omega(t)·(N − omega(t)))
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = (total * mu - mu_t * omega) ** 2 / (omega * (total - omega))
    sigma_b[~np.isfinite(sigma_b)] = 0
    return int(np.argmax(sigma_b))


def binarize_otsu(img: np.ndarray) -> np.ndarray:
    gray = _ensure_gray(img)
    t = otsu_threshold_value(gray)
    return np.where(gray > t, np.uint8(255), np.uint8(0))


# K4 adaptive-mean binarization — preprocessor.go:211-220: block 11, C 2.0.


def _box_mean(gray: np.ndarray, block: int) -> np.ndarray:
    pad = block // 2
    padded = np.pad(gray.astype(np.float64), pad, mode="edge")
    ii = np.cumsum(np.cumsum(padded, axis=0), axis=1)
    ii = np.pad(ii, ((1, 0), (1, 0)))
    h, w = gray.shape
    s = (
        ii[block : block + h, block : block + w]
        - ii[0:h, block : block + w]
        - ii[block : block + h, 0:w]
        + ii[0:h, 0:w]
    )
    return s / (block * block)


def binarize_adaptive_mean(
    img: np.ndarray, block_size: int = 11, c: float = 2.0
) -> np.ndarray:
    gray = _ensure_gray(img)
    mean = _box_mean(gray, block_size)
    return np.where(gray.astype(np.float64) > mean - c, np.uint8(255), np.uint8(0))


def binarize(img: np.ndarray, mode: str = "otsu", block_size: int = 11, c: float = 2.0) -> np.ndarray:
    if mode == "adaptive":
        return binarize_adaptive_mean(img, block_size, c)
    return binarize_otsu(img)


# --------------------------------------------------------------------------
# A1 sharpness — analyzer.go:76-95: variance of Laplacian (ksize=1).
# OpenCV's ksize=1 Laplacian kernel is [[0,1,0],[1,-4,1],[0,1,0]].


def laplacian(gray: np.ndarray) -> np.ndarray:
    g = gray.astype(np.float64)
    p = np.pad(g, 1, mode="edge")
    return p[:-2, 1:-1] + p[2:, 1:-1] + p[1:-1, :-2] + p[1:-1, 2:] - 4 * g


def sharpness(img: np.ndarray) -> float:
    return float(laplacian(_ensure_gray(img)).var())


# A2 contrast — analyzer.go:98-107: stddev of gray pixels.


def contrast(img: np.ndarray) -> float:
    return float(_ensure_gray(img).astype(np.float64).std())


# A3 brightness — analyzer.go:110-113: mean of gray pixels.


def brightness(img: np.ndarray) -> float:
    return float(_ensure_gray(img).astype(np.float64).mean())


# --------------------------------------------------------------------------
# K7 contrast enhance — preprocessor.go:268-307: CLAHE clip=2.0, tiles=8x8.
# From-scratch Zuiderveld-style implementation: per-tile clipped histogram
# CDF mappings, bilinearly interpolated between tile centers.


def clahe(img: np.ndarray, clip_limit: float = 2.0, tiles: int = 8) -> np.ndarray:
    gray = _ensure_gray(img)
    h, w = gray.shape
    th = max(1, h // tiles)
    tw = max(1, w // tiles)
    ny = int(np.ceil(h / th))
    nx = int(np.ceil(w / tw))
    maps = np.zeros((ny, nx, 256), dtype=np.float64)
    for ty in range(ny):
        for tx in range(nx):
            tile = gray[ty * th : min((ty + 1) * th, h), tx * tw : min((tx + 1) * tw, w)]
            hist = np.bincount(tile.ravel(), minlength=256).astype(np.float64)
            n = hist.sum()
            limit = max(clip_limit * n / 256.0, 1.0)
            excess = np.clip(hist - limit, 0, None).sum()
            hist = np.minimum(hist, limit) + excess / 256.0
            cdf = np.cumsum(hist)
            maps[ty, tx] = np.clip(np.round(cdf / max(n, 1) * 255.0), 0, 255)
    # bilinear interpolation between tile-center mappings
    ys = np.arange(h, dtype=np.float64)
    xs = np.arange(w, dtype=np.float64)
    fy = np.clip((ys - th / 2.0) / th, 0, ny - 1)
    fx = np.clip((xs - tw / 2.0) / tw, 0, nx - 1)
    y0 = np.floor(fy).astype(int)
    x0 = np.floor(fx).astype(int)
    y1 = np.minimum(y0 + 1, ny - 1)
    x1 = np.minimum(x0 + 1, nx - 1)
    wy = (fy - y0)[:, None]
    wx = (fx - x0)[None, :]
    g = gray.astype(int)
    m00 = maps[y0[:, None], x0[None, :], g]
    m01 = maps[y0[:, None], x1[None, :], g]
    m10 = maps[y1[:, None], x0[None, :], g]
    m11 = maps[y1[:, None], x1[None, :], g]
    out = (1 - wy) * ((1 - wx) * m00 + wx * m01) + wy * ((1 - wx) * m10 + wx * m11)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# K6 rotate — preprocessor.go:256-265: rotation about the image center,
# bilinear sampling, output same WxH.  Border fill defaults to the
# background (255) rather than OpenCV's black: our pipeline deskews the
# already-binarized white-background page (analyzer.go:164-165 order),
# where black corner wedges would corrupt downstream row segmentation.


def rotate(img: np.ndarray, angle_deg: float, border: int = 255) -> np.ndarray:
    gray = img
    h, w = gray.shape[:2]
    theta = np.deg2rad(angle_deg)
    cos_t, sin_t = np.cos(theta), np.sin(theta)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    ys, xs = np.meshgrid(np.arange(h, dtype=np.float64), np.arange(w, dtype=np.float64), indexing="ij")
    # inverse map: output (x,y) -> source coords (rotate by -angle)
    xr = cos_t * (xs - cx) + sin_t * (ys - cy) + cx
    yr = -sin_t * (xs - cx) + cos_t * (ys - cy) + cy
    x0 = np.floor(xr).astype(int)
    y0 = np.floor(yr).astype(int)
    dx = xr - x0
    dy = yr - y0
    valid = (x0 >= 0) & (x0 < w - 1) & (y0 >= 0) & (y0 < h - 1)
    x0c = np.clip(x0, 0, w - 2)
    y0c = np.clip(y0, 0, h - 2)
    g = gray.astype(np.float64)
    if gray.ndim == 3:
        dx = dx[..., None]
        dy = dy[..., None]
        valid = valid[..., None]
    v00 = g[y0c, x0c]
    v01 = g[y0c, x0c + 1]
    v10 = g[y0c + 1, x0c]
    v11 = g[y0c + 1, x0c + 1]
    out = (1 - dy) * ((1 - dx) * v00 + dx * v01) + dy * ((1 - dx) * v10 + dx * v11)
    out = np.where(valid, out, float(border))
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# K5 skew estimate — projection-profile search (public alternative named in
# the north_star; replaces the reference's Canny+HoughLinesP median,
# analyzer.go:169-232).  Reference guards preserved exactly:
#   - too little ink evidence => angle 0 (cf. <10 Hough lines, analyzer.go:180)
#   - candidate range bounded to ±45° (cf. |angle|<45 filter, analyzer.go:195)
# Coarse-to-fine search maximizing the variance of row ink-sums.

MIN_INK_PIXELS = 50  # evidence guard (analogue of min 10 Hough lines)


def _profile_score(ink_ys: np.ndarray, ink_xs: np.ndarray, h: int, angle_deg: float) -> float:
    theta = np.deg2rad(angle_deg)
    # y' of each ink pixel after rotating by -angle (shear approximation)
    yr = ink_ys * np.cos(theta) - ink_xs * np.sin(theta)
    rows = np.round(yr).astype(int)
    rows -= rows.min()
    counts = np.bincount(rows)
    return float((counts.astype(np.float64) ** 2).sum())


def estimate_skew(img: np.ndarray, max_angle: float = 15.0) -> float:
    """Estimated text-line skew in degrees (positive = ink rotated CCW)."""
    gray = _ensure_gray(img)
    t = otsu_threshold_value(gray)
    ink = gray <= t
    ys, xs = np.nonzero(ink)
    if ys.size < MIN_INK_PIXELS:
        return 0.0
    # subsample for speed on large pages (deterministic stride)
    if ys.size > 20000:
        step = ys.size // 20000 + 1
        ys, xs = ys[::step], xs[::step]
    ysf = ys.astype(np.float64)
    xsf = xs.astype(np.float64)
    h = gray.shape[0]
    best = 0.0
    for lo, hi, step in ((-max_angle, max_angle, 1.0), (None, None, 0.1)):
        if lo is None:
            lo, hi = best - 1.0, best + 1.0
        angles = np.arange(lo, hi + 1e-9, step)
        scores = [_profile_score(ysf, xsf, h, a) for a in angles]
        best = float(angles[int(np.argmax(scores))])
    return round(best, 1)


# K6+K5 combined deskew step with the reference's apply-thresholds:
# rotate only if 0.5 < |angle| < deskew_angle_limit (preprocessor.go:246-252).
#
# The estimate always runs in one fixed order:
#   1. the reference estimator: Canny -> HoughLinesP -> median
#      (imaging/hough.py, analyzer.go:169-232);
#   2. only when it reports no evidence (0.0), the projection-profile
#      search (north_star-sanctioned; near-exact on the fixture corpus).
# The fallback exists because with the reference's literal parameters
# (vote threshold 100, maxLineGap 0) the Hough estimator returns 0.0 on
# small/fine-rastered pages, which the reference server leaves
# uncorrected.  The result is identical to the reference whenever its
# estimator fires.  Both estimators share the rotate()-render sign
# convention (verified: rotate(img, +8) => estimate ~ +8 from each).


def deskew(
    img: np.ndarray,
    angle_limit: float = 10.0,
    deadline: float | None = None,
) -> np.ndarray:
    from .hough import skew_angle_hough

    angle = skew_angle_hough(_ensure_gray(img), deadline=deadline)
    if angle == 0.0:
        angle = estimate_skew(img)
    if 0.5 < abs(angle) < angle_limit:
        return rotate(img, -angle)
    return img


# --------------------------------------------------------------------------
# K9 resize — preprocessor.go:317-339: aspect-preserving when one target
# dim given; bilinear.


def resize(img: np.ndarray, width: int = 0, height: int = 0) -> np.ndarray:
    h, w = img.shape[:2]
    if width <= 0 and height <= 0:
        return img.copy()
    if width <= 0:
        width = max(1, int(round(w * height / h)))
    elif height <= 0:
        height = max(1, int(round(h * width / w)))
    ys = np.linspace(0, h - 1, height)
    xs = np.linspace(0, w - 1, width)
    y0 = np.floor(ys).astype(int)
    x0 = np.floor(xs).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    dy = (ys - y0)[:, None]
    dx = (xs - x0)[None, :]
    g = img.astype(np.float64)
    if img.ndim == 3:
        dy = dy[..., None]
        dx = dx[..., None]
    v00 = g[np.ix_(y0, x0)]
    v01 = g[np.ix_(y0, x1)]
    v10 = g[np.ix_(y1, x0)]
    v11 = g[np.ix_(y1, x1)]
    out = (1 - dy) * ((1 - dx) * v00 + dx * v01) + dy * ((1 - dx) * v10 + dx * v11)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)
