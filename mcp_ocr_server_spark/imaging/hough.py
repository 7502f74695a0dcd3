"""K5 reference-parity skew estimator: Canny -> HoughLinesP -> median.

From-scratch numpy implementation of the reference's live deskew
estimator chain (internal/preprocessing/analyzer.go:169-232):

  CalculateSkewAngle:
    Canny(img, 50, 150)                           analyzer.go:172-174
    HoughLinesP(rho=1, theta=pi/180, thr=100)     analyzer.go:177-179
      (gocv 5-arg form => minLineLength=0, maxLineGap=0)
    < 10 lines                        => 0.0      analyzer.go:181-183
    angle = atan2(y2-y1, x2-x1) deg, keep |a|<45  analyzer.go:186-198
    exact median; even count => mean of middle 2  analyzer.go:209-232

The building blocks are textbook algorithms re-derived from the public
literature (Canny 1986; Matas/Galambos/Kittler progressive
probabilistic Hough 2000) — not ports of OpenCV internals.  Two
deliberate divergences from OpenCV, documented for the parity audit:

- OpenCV's progressive probabilistic Hough visits edge points in
  RANDOM order (cv::RNG); we visit in deterministic scan order so the
  estimator is reproducible across runs/executors (a hard requirement
  for content-hash memoization and committed goldens).
- Hysteresis/NMS use float Sobel gradients rather than OpenCV's
  fixed-point approximations, so edge maps can differ by a pixel at
  threshold boundaries.

Guard semantics and the median are literal.
"""

from __future__ import annotations

import math

import numpy as np

from ..deadline import check_deadline

# --------------------------------------------------------------------------
# Canny edge detector (aperture-3 Sobel, L1 gradient norm — OpenCV's
# defaults for Canny(img, 50, 150) with L2gradient=false).


def _sobel3(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    g = gray.astype(np.float64)
    p = np.pad(g, 1, mode="reflect")
    # separable Sobel: smooth [1 2 1], diff [-1 0 1]
    gx = (
        (p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
        - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2])
    )
    gy = (
        (p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
        - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:])
    )
    return gx, gy


def canny(
    gray: np.ndarray,
    lo: float = 50.0,
    hi: float = 150.0,
    deadline: float | None = None,
) -> np.ndarray:
    """Boolean edge map: Sobel -> 4-direction NMS -> hysteresis."""
    gx, gy = _sobel3(gray)
    mag = np.abs(gx) + np.abs(gy)  # L1 norm (OpenCV L2gradient=false)

    # non-maximum suppression, gradient direction quantized to 4 sectors
    # via tangent comparisons (tan 22.5 deg = 0.4142, tan 67.5 = 2.4142)
    ax, ay = np.abs(gx), np.abs(gy)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(ax > 0, ay / np.maximum(ax, 1e-30), np.inf)
    horiz = t < math.tan(math.radians(22.5))          # gradient ~ horizontal
    vert = t > math.tan(math.radians(67.5))           # gradient ~ vertical
    diag = ~horiz & ~vert
    diag_main = diag & ((gx * gy) > 0)                # 45 deg gradient
    diag_anti = diag & ~diag_main                     # 135 deg gradient

    m = np.pad(mag, 1, mode="constant")
    c = m[1:-1, 1:-1]
    keep = np.zeros_like(c, dtype=bool)
    keep |= horiz & (c >= m[1:-1, :-2]) & (c >= m[1:-1, 2:])
    keep |= vert & (c >= m[:-2, 1:-1]) & (c >= m[2:, 1:-1])
    keep |= diag_main & (c >= m[:-2, :-2]) & (c >= m[2:, 2:])
    keep |= diag_anti & (c >= m[:-2, 2:]) & (c >= m[2:, :-2])

    strong = keep & (mag >= hi)
    weak = keep & (mag >= lo) & ~strong

    # hysteresis: weak pixels 8-connected to strong become edges.
    # Vectorized dilation converges in O(chain diameter) iterations —
    # fast for every realistic page — but each iteration is a full
    # O(h*w) sweep, so a single long weak chain (a faint near-diagonal
    # line needs ~thousands of iterations) would make the vectorized
    # phase itself quadratic.  Cap it at a small constant and hand the
    # remaining frontier to the EXACT linear-time BFS (same fixpoint
    # either way — the flood is monotone), with the cooperative P4
    # deadline checked in both phases.
    edges = strong.copy()
    stable = False
    for _ in range(32):
        check_deadline(deadline, "canny hysteresis")
        e = np.pad(edges, 1, mode="constant")
        grown = (
            e[:-2, :-2] | e[:-2, 1:-1] | e[:-2, 2:]
            | e[1:-1, :-2] | e[1:-1, 2:]
            | e[2:, :-2] | e[2:, 1:-1] | e[2:, 2:]
        )
        new = edges | (weak & grown)
        if new.sum() == edges.sum():
            stable = True
            break
        edges = new
    if not stable:
        h_, w_ = edges.shape
        remaining = weak & ~edges
        # seed the stack with weak pixels adjacent to current edges
        e = np.pad(edges, 1, mode="constant")
        adj = (
            e[:-2, :-2] | e[:-2, 1:-1] | e[:-2, 2:]
            | e[1:-1, :-2] | e[1:-1, 2:]
            | e[2:, :-2] | e[2:, 1:-1] | e[2:, 2:]
        )
        stack = list(zip(*np.nonzero(remaining & adj)))
        n_pops = 0
        while stack:
            n_pops += 1
            if n_pops % 4096 == 0:
                check_deadline(deadline, "canny hysteresis bfs")
            y, x = stack.pop()
            if edges[y, x] or not weak[y, x]:
                continue
            edges[y, x] = True
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    ny, nx = y + dy, x + dx
                    if 0 <= ny < h_ and 0 <= nx < w_ and weak[ny, nx] and not edges[ny, nx]:
                        stack.append((ny, nx))
    return edges


# --------------------------------------------------------------------------
# Progressive probabilistic Hough transform (Matas et al. 2000), the
# algorithm behind cv::HoughLinesP — deterministic scan-order variant.


def hough_lines_p(
    edges: np.ndarray,
    rho_res: float = 1.0,
    theta_res: float = math.pi / 180.0,
    threshold: int = 100,
    min_line_length: int = 0,
    max_line_gap: int = 0,
    max_lines: int = 2000,
    chunk: int = 128,
    deadline: float | None = None,
) -> list[tuple[int, int, int, int]]:
    """Line segments (x1, y1, x2, y2) from a boolean edge map.

    Execution strategy (output is IDENTICAL to the naive per-point
    progressive loop): points are processed in deterministic scan order
    in chunks.  A chunk's votes are applied in one vectorized bincount;
    since progressive per-point counts are bounded above by the
    post-chunk counts (votes within a chunk only accumulate), a chunk
    whose touched bins all stay below the threshold provably contains
    no trigger point — commit and move on (the common case: ~most text
    pages trigger on a handful of points).  A chunk that MIGHT trigger
    is rolled back and replayed point-by-point with the exact
    sequential semantics (vote, argmax, threshold, walk, consume,
    cancel votes).  Measured ~5-8x faster on fixture pages with zero
    output change.

    The per-point replay is the floor for numpy, and on text pages it
    is most of the work: saturated text-row bins fire on almost every
    pixel of their row, so a trigger comes every ~16 replayed points
    and nearly every chunk replays.  Per point the replay is one
    gather, add and scatter on the accumulator plus an argmax.  Bins
    are intp: with int32 bins every gather and scatter converted the
    index array first, which made the vote ~2x dearer.  A consumed
    segment is rasterised pixel by pixel, then the bins of all the
    pixels it clears come from one block and are cancelled row by row.
    The 116 edge maps of the benchmark's image library take ~3.2 s in
    all on one core.  Exact alternatives that measured slower or no
    better: a vectorised search for each chunk's first trigger (3x
    slower: it reruns after every trigger), splitting points into ones
    whose bins can reach the threshold in the chunk and ones whose
    bins cannot (no gain), 8-point mini-batch replay (no gain), 16-,
    32- and 64-point chunks (slower), and take/put through a
    preallocated vote buffer (slower than intp fancy indexing)."""
    h, w = edges.shape
    n_theta = int(round(math.pi / theta_res))
    thetas = np.arange(n_theta) * theta_res
    cos_t = np.cos(thetas)
    sin_t = np.sin(thetas)
    max_rho = int(math.ceil((h + w) / rho_res))  # rho in [-max_rho, max_rho]
    n_rho = 2 * max_rho + 1
    accf = np.zeros(n_theta * n_rho, dtype=np.int32)

    mask = edges.copy()
    ys0, xs0 = np.nonzero(mask)
    order = np.lexsort((xs0, ys0))  # deterministic scan order
    xs_o = xs0[order].astype(np.int64)
    ys_o = ys0[order].astype(np.int64)
    n_pts = xs_o.size
    if n_pts == 0:
        return []
    xs, ys = xs_o.tolist(), ys_o.tolist()  # per-point reads as Python ints
    xs_f = xs_o.astype(np.float64)
    ys_f = ys_o.astype(np.float64)
    one = np.int32(1)
    # Accumulator bins per (point, theta) are computed CHUNK-BY-CHUNK,
    # never as one (n_pts x n_theta) precompute: on a dense page that
    # table is ~40-80 MB, above glibc's mmap threshold, so every image
    # paid first-touch page faults for it (measured ~2-3 s per 80 MB)
    # while a 128 x 180 chunk buffer is heap-reused for free.  One
    # elementwise formula serves the vote and the cancel path, so a
    # cancel hits exactly the voted bins: float64 coords (exact for
    # pixel magnitudes), x*cos + y*sin, round, shift by max_rho, offset
    # by theta*n_rho.  Bins are intp so fancy indexing into the
    # accumulator needs no per-point index conversion.
    bin_base = np.arange(n_theta, dtype=np.intp) * n_rho + max_rho

    def bins_of(xf: np.ndarray, yf: np.ndarray) -> np.ndarray:
        """(len(xf), n_theta) flat-bin table for float64 pixel coords."""
        rho = xf[:, None] * cos_t
        rho += yf[:, None] * sin_t
        rho /= rho_res
        bins = np.rint(rho, out=rho).astype(np.intp)  # half to even
        bins += bin_base
        return bins

    def consume_segment(x1, y1, x2, y2):
        # rasterise in Python (segments are short), then cancel the
        # votes of every pixel it clears in one bin block; bins within a
        # row are distinct (one per theta), so `accf[row] -= 1` is exact
        n_steps = max(abs(x2 - x1), abs(y2 - y1))
        hit_x, hit_y = [], []
        for i in range(n_steps + 1):
            f = i / max(n_steps, 1)
            ix = int(round(x1 + f * (x2 - x1)))
            iy = int(round(y1 + f * (y2 - y1)))
            if mask[iy, ix]:
                mask[iy, ix] = False
                hit_x.append(ix)
                hit_y.append(iy)
        if hit_x:
            hit = bins_of(
                np.array(hit_x, dtype=np.float64), np.array(hit_y, dtype=np.float64)
            )
            for row in hit:
                accf[row] -= 1

    def walk(x, y, k):
        ct, st = cos_t[k], sin_t[k]
        # line direction (unit): perpendicular to the normal (ct, st)
        dx, dy = -st, ct
        if abs(dx) >= abs(dy):
            step_x, step_y = (1.0 if dx > 0 else -1.0), dy / abs(dx)
        else:
            step_x, step_y = dx / abs(dy), (1.0 if dy > 0 else -1.0)
        ends = []
        for sgn in (1.0, -1.0):
            cx, cy = float(x), float(y)
            lx, ly = x, y
            gap = 0
            while True:
                cx += sgn * step_x
                cy += sgn * step_y
                ix, iy = int(round(cx)), int(round(cy))
                if ix < 0 or ix >= w or iy < 0 or iy >= h:
                    break
                if mask[iy, ix]:
                    lx, ly = ix, iy
                    gap = 0
                else:
                    gap += 1
                    if gap > max_line_gap:
                        break
            ends.append((lx, ly))
        return ends[0], ends[1]

    out: list[tuple[int, int, int, int]] = []
    i = 0
    # Adaptive speculation: the vectorized chunk vote only pays off when
    # it can COMMIT (no trigger).  On dense degenerate pages (noise
    # rasters where the accumulator saturates) every chunk triggers, and
    # the bincount + add + rollback over the full accumulator becomes
    # pure overhead before the replay that was going to happen anyway.
    # So: after a chunk whose replay actually triggered a line, replay
    # the next chunk directly; resume speculating after a chunk with no
    # trigger.  Output is identical either way — the replay IS the
    # exact semantics; speculation is only ever an optimization.
    speculate = True
    while i < n_pts:
        # cooperative P4 deadline: once per chunk covers both the
        # vectorized voting AND the exact per-point replay (the replay
        # is per-pixel Python on dense-edge pages — the pathological
        # case the deadline exists for)
        check_deadline(deadline, "hough_lines_p")
        j = min(i + chunk, n_pts)
        live = mask[ys_o[i:j], xs_o[i:j]]
        if not live.any():
            i = j
            continue
        chunk_bins = bins_of(xs_f[i:j], ys_f[i:j])
        if speculate:
            rows = chunk_bins[live]
            delta = np.bincount(
                rows.ravel(), minlength=accf.size
            ).astype(np.int32)
            accf += delta
            if int(accf[rows].max()) < threshold:
                i = j  # provably no trigger — votes committed
                continue
            accf -= delta  # roll back; replay with exact semantics
        triggered = False
        for x, y, row in zip(xs[i:j], ys[i:j], chunk_bins):
            if not mask[y, x]:
                continue  # consumed by an earlier segment walk
            votes = accf[row] + one
            accf[row] = votes
            k = int(votes.argmax())
            if votes[k] < threshold:
                continue
            triggered = True
            (x1, y1), (x2, y2) = walk(x, y, k)
            consume_segment(x1, y1, x2, y2)
            if max(abs(x2 - x1), abs(y2 - y1)) >= min_line_length:
                out.append((x1, y1, x2, y2))
                if len(out) >= max_lines:
                    return out
        speculate = not triggered
        i = j
    return out


# --------------------------------------------------------------------------
# CalculateSkewAngle parity (analyzer.go:169-206) + calculateMedian
# (analyzer.go:209-232).


def calculate_median(values: list[float]) -> float:
    """Exact reference semantics: even count => mean of middle two."""
    if not values:
        return 0.0
    s = sorted(values)
    mid = len(s) // 2
    if len(s) % 2 == 0:
        return (s[mid - 1] + s[mid]) / 2.0
    return s[mid]


def skew_angle_hough(gray: np.ndarray, deadline: float | None = None) -> float:
    """Skew estimate in degrees, reference guard semantics literal:
    <10 Hough lines => 0.0; only |angle| < 45 deg lines count; median.

    No separate pre-filter: hough_lines_p's chunked voting already
    handles below-threshold pages in vectorized bincounts, so a
    duplicate full-accumulator check would re-implement the same bin
    arithmetic a second time (a drift hazard for the exactness proof)
    for no measurable win."""
    edges = canny(gray, 50.0, 150.0, deadline=deadline)
    lines = hough_lines_p(edges, 1.0, math.pi / 180.0, 100, deadline=deadline)
    if len(lines) < 10:
        return 0.0
    angles = []
    for x1, y1, x2, y2 in lines:
        a = math.degrees(math.atan2(y2 - y1, x2 - x1))
        if abs(a) < 45.0:
            angles.append(a)
    if not angles:
        return 0.0
    return calculate_median(angles)
