"""Native build of the progressive probabilistic Hough loop (K5).

`hough.hough_lines_p` spends nearly all of its time in one sequential
loop: vote a point into every theta bin, take the argmax, and when it
reaches the threshold walk the line, consume its pixels and cancel
their votes.  Each step depends on the accumulator state the previous
point left, so numpy can only replay it point by point.  `SOURCE` is
that loop in C, the naive per-point algorithm with no speculation.

The C source lives in this module as a string because the package is
shipped to Spark's Python workers as a zip of its `*.py` files.
`load()` loads it with `ctypes` from a per-user cache directory,
compiling it there with the host's `cc` first if no process has yet; a
missing compiler, a failed build or no safe cache directory make
`load()` return None (one logged warning per process), and the caller
runs its numpy body.

Exactness: the C loop must give the numpy body's segment list bit for
bit.  It takes cos/sin from numpy (no libm `cos`/`sin`); computes a bin
as `r = x*c; r += y*s; r /= rho_res; rint(r)`, the order of the numpy
expression, with `-ffp-contract=off` so nothing fuses into an FMA and
no `-march`/`-ffast-math`; rounds with `rint` under the default rounding
mode, which is Python's half-to-even `round`; keeps the first maximum
in the argmax (strict `>`); and cancels the votes of every pixel a
consumed segment clears, including pixels that have not voted yet.
"""

from __future__ import annotations

import ctypes
import functools
import hashlib
import logging
import os
import shutil
import stat
import subprocess
import tempfile

log = logging.getLogger(__name__)

# Bounds (an out-of-range access here kills the Python worker, so every
# index must be in range by construction):
# - bins: the caller passes pixels 0 <= x < w, 0 <= y < h, |cos|, |sin|
#   <= 1 and max_rho = ceil((h + w) / rho_res) with rho_res > 0.
#   IEEE rounding is monotone, so |x*c + y*s| <= x + y < h + w and
#   |rint(r)| <= max_rho: a bin offset lies in [0, 2*max_rho], inside the
#   theta's row of n_rho = 2*max_rho + 1 bins.
# - walk: a pixel is read only after the bounds check on its rounded
#   coordinates.
# - consume: both segment ends are in-range pixels (the start point or a
#   pixel the walk read); with 0 <= f <= 1, x1 + f*(x2 - x1) rounds into
#   [min(x1, x2), max(x1, x2)], so every rasterised pixel lies between
#   them.
# - out: each processed point adds at most one segment, so a call over
#   n_pts points writes at most min(n_pts, max_out) rows of 4.
# Votes are int32 like the numpy accumulator; a bin holds at most one
# vote per pixel of the map, far below 2**31.
SOURCE = r"""
#include <math.h>
#include <stdint.h>

static void cancel_votes(int32_t *acc, double x, double y,
                         const double *cos_t, const double *sin_t,
                         int64_t n_theta, double rho_res, int64_t max_rho,
                         int64_t n_rho)
{
    for (int64_t t = 0; t < n_theta; t++) {
        double r = x * cos_t[t];
        r += y * sin_t[t];
        r /= rho_res;
        acc[t * n_rho + max_rho + (int64_t)rint(r)] -= 1;
    }
}

int64_t hough_ppht(uint8_t *mask, int64_t h, int64_t w,
                   const int64_t *xs, const int64_t *ys, int64_t n_pts,
                   const double *cos_t, const double *sin_t, int64_t n_theta,
                   double rho_res, int64_t max_rho, int64_t n_rho,
                   int32_t *acc, int64_t threshold, int64_t min_line_length,
                   int64_t max_line_gap, int64_t max_out, int64_t *out)
{
    int64_t n_out = 0;
    for (int64_t p = 0; p < n_pts; p++) {
        int64_t x = xs[p], y = ys[p];
        if (!mask[y * w + x])
            continue; /* consumed by an earlier segment */
        double xf = (double)x, yf = (double)y;

        /* vote, keeping the first maximum */
        int64_t k = 0;
        int32_t best = 0;
        for (int64_t t = 0; t < n_theta; t++) {
            double r = xf * cos_t[t];
            r += yf * sin_t[t];
            r /= rho_res;
            int32_t v = ++acc[t * n_rho + max_rho + (int64_t)rint(r)];
            if (t == 0 || v > best) {
                best = v;
                k = t;
            }
        }
        if (best < threshold)
            continue;

        /* walk both ways along the line through (x, y) normal to theta k */
        double dx = -sin_t[k], dy = cos_t[k], step_x, step_y;
        if (fabs(dx) >= fabs(dy)) {
            step_x = dx > 0 ? 1.0 : -1.0;
            step_y = dy / fabs(dx);
        } else {
            step_x = dx / fabs(dy);
            step_y = dy > 0 ? 1.0 : -1.0;
        }
        int64_t ex[2], ey[2];
        for (int e = 0; e < 2; e++) {
            double sgn = e == 0 ? 1.0 : -1.0;
            double cx = xf, cy = yf;
            int64_t lx = x, ly = y, gap = 0;
            for (;;) {
                cx += sgn * step_x;
                cy += sgn * step_y;
                double rx = rint(cx), ry = rint(cy);
                if (rx < 0 || rx >= (double)w || ry < 0 || ry >= (double)h)
                    break;
                int64_t ix = (int64_t)rx, iy = (int64_t)ry;
                if (mask[iy * w + ix]) {
                    lx = ix;
                    ly = iy;
                    gap = 0;
                } else if (++gap > max_line_gap) {
                    break;
                }
            }
            ex[e] = lx;
            ey[e] = ly;
        }

        /* consume: clear the segment's pixels and cancel their votes */
        int64_t x1 = ex[0], y1 = ey[0], x2 = ex[1], y2 = ey[1];
        int64_t adx = x2 > x1 ? x2 - x1 : x1 - x2;
        int64_t ady = y2 > y1 ? y2 - y1 : y1 - y2;
        int64_t n_steps = adx > ady ? adx : ady;
        double denom = (double)(n_steps > 1 ? n_steps : 1);
        for (int64_t i = 0; i <= n_steps; i++) {
            double f = (double)i / denom;
            int64_t ix = (int64_t)rint((double)x1 + f * (double)(x2 - x1));
            int64_t iy = (int64_t)rint((double)y1 + f * (double)(y2 - y1));
            if (mask[iy * w + ix]) {
                mask[iy * w + ix] = 0;
                cancel_votes(acc, (double)ix, (double)iy, cos_t, sin_t,
                             n_theta, rho_res, max_rho, n_rho);
            }
        }

        if (n_steps >= min_line_length) {
            out[4 * n_out] = x1;
            out[4 * n_out + 1] = y1;
            out[4 * n_out + 2] = x2;
            out[4 * n_out + 3] = y2;
            if (++n_out >= max_out)
                break;
        }
    }
    return n_out;
}
"""

CFLAGS = ("-O2", "-fPIC", "-shared", "-ffp-contract=off")
_CACHE_NAME = "spark-extract"


def _library_name() -> str:
    key = hashlib.sha256(
        (SOURCE + "\0" + " ".join(("cc",) + CFLAGS)).encode()
    ).hexdigest()
    return f"hough-{key[:16]}.so"


def _owned_private(path: str, kind: int) -> bool:
    """`path` is a `kind` (not a symlink) that this user owns and that
    neither group nor others can write."""
    try:
        st = os.lstat(path)
    except OSError:
        return False
    return (
        stat.S_IFMT(st.st_mode) == kind
        and st.st_uid == os.getuid()
        and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH)
    )


def _cache_dir() -> str | None:
    """The first usable private cache directory: `$XDG_CACHE_HOME` or
    `~/.cache`, then the system temp dir (per-user name), each created
    with mode 0700.  None if neither exists or is safe to load from."""
    xdg = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    for d in (
        os.path.join(xdg, _CACHE_NAME),
        os.path.join(tempfile.gettempdir(), f"{_CACHE_NAME}-{os.getuid()}"),
    ):
        try:
            os.makedirs(d, mode=0o700, exist_ok=True)
        except OSError:
            continue
        if _owned_private(d, stat.S_IFDIR):
            return d
    return None


def _build(cc: str, d: str, path: str) -> None:
    """Compile SOURCE to `path`; temporary names in `d`, then an atomic
    rename, so workers that build at the same time never load a partial
    file."""
    fd, src = tempfile.mkstemp(dir=d, suffix=".c")
    tmp = src[:-2] + ".so"
    try:
        with os.fdopen(fd, "w") as f:
            f.write(SOURCE)
        subprocess.run(
            [cc, *CFLAGS, "-o", tmp, src, "-lm"],
            check=True, capture_output=True, timeout=120,
        )
        os.replace(tmp, path)
    finally:
        for leftover in (src, tmp):
            if os.path.exists(leftover):
                os.unlink(leftover)


@functools.lru_cache(maxsize=None)
def load() -> ctypes.CDLL | None:
    """The compiled loop, built on first use; None (and one warning per
    process) when it cannot be built or safely loaded."""
    try:
        d = _cache_dir()
        if d is None:
            raise OSError("no private cache directory")
        path = os.path.join(d, _library_name())
        if not os.path.exists(path):
            cc = shutil.which("cc")
            if cc is None:
                raise OSError("no C compiler (cc) on PATH")
            _build(cc, d, path)
        if not _owned_private(path, stat.S_IFREG):
            raise OSError(f"{path} is not a private file of this user")
        lib = ctypes.CDLL(path)
    except (OSError, subprocess.SubprocessError) as exc:
        log.warning("native Hough loop unavailable, using numpy: %s", exc)
        return None
    fn = lib.hough_ppht
    i64, ptr = ctypes.c_int64, ctypes.c_void_p
    fn.argtypes = [
        ptr, i64, i64,                          # mask, h, w
        ptr, ptr, i64,                          # xs, ys, n_pts
        ptr, ptr, i64,                          # cos_t, sin_t, n_theta
        ctypes.c_double, i64, i64,              # rho_res, max_rho, n_rho
        ptr, i64, i64, i64, i64, ptr,           # acc, threshold, min length,
    ]                                           # max gap, max_out, out
    fn.restype = i64
    return lib
