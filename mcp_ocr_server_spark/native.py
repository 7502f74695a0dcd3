"""Native builds of the package's three sequential loops: the Hough
vote-and-walk (K5), the NL-means offset rows (K2) and the AES-CBC
encrypt chain of the PDF security handler.

Each spends nearly all of its time in a loop whose every step depends
on the one before, which numpy can only run as many small passes and
Python only as one interpreted step at a time:

- `hough.hough_lines_p`: vote a point into every theta bin, take the
  argmax, and when it reaches the threshold walk the line, consume its
  pixels and cancel their votes.  Each step depends on the accumulator
  state the previous point left, so numpy replays it point by point.
  `hough_ppht` is that loop in C, the naive per-point algorithm with
  no speculation.
- `kernels.nl_means_denoise`: for each offset of the search window,
  the patch distance of every pixel, its weight and the weighted sums.
  `nlm_offset_row` runs one offset row `dy` of that loop.
- `aes.cbc_encrypt`: CBC chains each block's input to the previous
  ciphertext block, so each of Algorithm 2.B's 64 or more chains of
  128 or more blocks (`pdfcrypt.hash_2b`) runs one block after
  another.  `aes_cbc_encrypt` expands the key and runs the chain.

The C source lives in this module as a string because the package is
shipped to Spark's Python workers as a zip of its `*.py` files.
`load()` loads it with `ctypes` from a per-user cache directory,
compiling it there with the host's `cc` first if no process has yet; a
missing compiler, a failed build or no safe cache directory make
`load()` return None (one logged warning per process), and every
caller runs its numpy or Python body.

Exactness: each C loop must give its numpy or Python body's output bit
for bit.  The flags keep `-ffp-contract=off`, so nothing fuses into an
FMA, and no `-march`/`-ffast-math`, so nothing reassociates and the
`.so` runs on any x86-64.

- Hough: takes cos/sin from numpy (no libm `cos`/`sin`); computes a bin
  as `r = x*c; r += y*s; r /= rho_res; rint(r)`, the order of the numpy
  expression; rounds with `rint` under the default rounding mode, which
  is Python's half-to-even `round`; keeps the first maximum in the
  argmax (strict `>`); and cancels the votes of every pixel a consumed
  segment clears, including pixels that have not voted yet.
- NL-means: patch distances are exact integers, so any summation order
  gives the numpy body's; weights come from a table the caller builds
  with numpy's own `exp`, one entry per distance up to the last nonzero
  one, and every distance past it weighs exactly +0.0 in numpy too;
  `num += w * p` and `den += w` run in float32 per pixel in the numpy
  body's (dy, dx) order.
- AES: integer only.  The S-box and the four T-tables come from the
  caller (`aes` derives them from GF(2^8) at import), the key schedule
  and the rounds are `_expand_key` and `_cbc_encrypt_words` step for
  step on big-endian 32-bit words, so the same tables give the same
  bytes.
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
# index must be in range by construction).
#
# hough_ppht:
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
#
# nlm_offset_row (the caller refuses template and search sizes that are
# not odd positive ints, and passes uint8 pixels only):
# - img is the h x w page reflect-padded by pad = s + t on each side
#   (t = template // 2, s = search // 2), so its rows and columns run
#   over [0, h + 2*pad) and [0, w + 2*pad), with `stride` = w + 2*pad.
# - patches: with |dy|, |dx| <= s, a centre patch row is s + y + i and a
#   shifted one s + dy + y + i for y < h, i < template, so both lie in
#   [0, 2*s + h + 2*t - 1] = [0, h + 2*pad - 1]; columns likewise with
#   x < w + template - 1 (col's length).
# - pixels: pad + dy + y lies in [t, h + 2*s + t - 1], and likewise for
#   columns.
# - weights: a distance is a sum of template**2 squares of 8-bit
#   differences, so 0 <= d <= template**2 * 255**2; the caller takes
#   templates up to 11, below 2**23, so no int32 sum (a distance plus
#   one more column while it slides) can wrap.  The index
#   min(d, n_table) reads table[0..n_table], n_table + 1 entries.
# - num and den are h x w.
#
# aes_cbc_encrypt (the caller refuses key lengths other than 16, 24 and
# 32, IVs other than 16 bytes and input that is not block-aligned):
# - key: nk = key_len / 4 is 4, 6 or 8, so the loads read key[0..key_len)
#   and the schedule writes w[0..4*(nk + 7)), at most the 60 words of w;
#   w[i - nk] and w[i - 1] are earlier entries.  The C loop returns
#   without touching anything for any other key_len.
# - tables: every index is a byte of a uint32 (`>> 24`, or `>> k & 0xFF`),
#   so it lies in [0, 255]; te holds 4 x 256 uint32 (te0..te3) and sbox
#   256 bytes.
# - blocks: block b reads in[16*b .. 16*b + 16) and writes the same range
#   of out, for b < n_blocks, where both buffers hold 16 * n_blocks bytes;
#   the IV is 16 bytes.
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

void nlm_offset_row(const uint8_t *restrict img, int64_t stride,
                    int64_t h, int64_t w, int64_t tsize, int64_t s,
                    int64_t dy, const float *restrict table,
                    int64_t n_table, int32_t *restrict col,
                    float *restrict num, float *restrict den)
{
    int64_t pw = w + tsize - 1, pad = s + tsize / 2;
    const uint8_t *c0 = img + s * stride + s; /* centre patches' frame */
    for (int64_t dx = -s; dx <= s; dx++) {
        const uint8_t *c1 = img + (s + dy) * stride + (s + dx);
        const uint8_t *pv = img + (pad + dy) * stride + (pad + dx);

        /* col[x]: vertical sum of squared differences over the template
           rows of output row y, slid down one row at a time */
        for (int64_t x = 0; x < pw; x++)
            col[x] = 0;
        for (int64_t i = 0; i < tsize; i++) {
            const uint8_t *a = c1 + i * stride, *b = c0 + i * stride;
            for (int64_t x = 0; x < pw; x++) {
                int32_t d = (int32_t)a[x] - (int32_t)b[x];
                col[x] += d * d;
            }
        }
        for (int64_t y = 0; y < h; y++) {
            if (y > 0) {
                const uint8_t *a1 = c1 + (y + tsize - 1) * stride;
                const uint8_t *a0 = c0 + (y + tsize - 1) * stride;
                const uint8_t *b1 = c1 + (y - 1) * stride;
                const uint8_t *b0 = c0 + (y - 1) * stride;
                for (int64_t x = 0; x < pw; x++) {
                    int32_t da = (int32_t)a1[x] - (int32_t)a0[x];
                    int32_t db = (int32_t)b1[x] - (int32_t)b0[x];
                    col[x] += da * da - db * db;
                }
            }
            /* d: horizontal sum of col over the template columns of x,
               slid right one column at a time */
            int32_t d = 0;
            for (int64_t j = 0; j < tsize - 1; j++)
                d += col[j];
            float *nr = num + y * w, *dr = den + y * w;
            const uint8_t *pr = pv + y * stride;
            for (int64_t x = 0; x < w; x++) {
                d += col[x + tsize - 1];
                float wt = table[d < n_table ? d : n_table];
                nr[x] += wt * (float)pr[x];
                dr[x] += wt;
                d -= col[x];
            }
        }
    }
}

static uint32_t load_be32(const uint8_t *p)
{
    return (uint32_t)p[0] << 24 | (uint32_t)p[1] << 16
           | (uint32_t)p[2] << 8 | (uint32_t)p[3];
}

static void store_be32(uint8_t *p, uint32_t v)
{
    p[0] = (uint8_t)(v >> 24);
    p[1] = (uint8_t)(v >> 16);
    p[2] = (uint8_t)(v >> 8);
    p[3] = (uint8_t)v;
}

/* S-box of the top byte of a, byte 2 of b, byte 1 of c and the low
   byte of d, packed in that order: sub4(x, x, x, x) is SubWord(x), and
   the final round's SubBytes + ShiftRows takes one byte of each of the
   four state words. */
static uint32_t sub4(const uint8_t *sbox, uint32_t a, uint32_t b,
                     uint32_t c, uint32_t d)
{
    return (uint32_t)sbox[a >> 24] << 24 | (uint32_t)sbox[b >> 16 & 0xFF] << 16
           | (uint32_t)sbox[c >> 8 & 0xFF] << 8 | (uint32_t)sbox[d & 0xFF];
}

void aes_cbc_encrypt(const uint32_t *restrict te, const uint8_t *restrict sbox,
                     const uint8_t *restrict key, int64_t key_len,
                     const uint8_t *restrict iv, const uint8_t *restrict in,
                     int64_t n_blocks, uint8_t *restrict out)
{
    int64_t nk = key_len / 4, nr = nk + 6;
    if (key_len % 4 || (nk != 4 && nk != 6 && nk != 8))
        return;
    /* key schedule (FIPS-197 5.2), the order of aes._expand_key */
    uint32_t w[60], rcon = 1;
    for (int64_t i = 0; i < nk; i++)
        w[i] = load_be32(key + 4 * i);
    for (int64_t i = nk; i < 4 * (nr + 1); i++) {
        uint32_t t = w[i - 1];
        if (i % nk == 0) {
            t = t << 8 | t >> 24; /* RotWord */
            t = sub4(sbox, t, t, t, t) ^ rcon << 24;
            rcon <<= 1;
            if (rcon & 0x100)
                rcon ^= 0x11B;
        } else if (nk == 8 && i % nk == 4) {
            t = sub4(sbox, t, t, t, t);
        }
        w[i] = w[i - nk] ^ t;
    }

    const uint32_t *te0 = te, *te1 = te + 256, *te2 = te + 512, *te3 = te + 768;
    uint32_t c0 = load_be32(iv), c1 = load_be32(iv + 4),
             c2 = load_be32(iv + 8), c3 = load_be32(iv + 12);
    for (int64_t b = 0; b < n_blocks; b++) {
        const uint8_t *p = in + 16 * b;
        uint32_t s0 = load_be32(p) ^ c0 ^ w[0];
        uint32_t s1 = load_be32(p + 4) ^ c1 ^ w[1];
        uint32_t s2 = load_be32(p + 8) ^ c2 ^ w[2];
        uint32_t s3 = load_be32(p + 12) ^ c3 ^ w[3];
        for (int64_t r = 1; r < nr; r++) {
            const uint32_t *k = w + 4 * r;
            uint32_t t0 = te0[s0 >> 24] ^ te1[s1 >> 16 & 0xFF]
                          ^ te2[s2 >> 8 & 0xFF] ^ te3[s3 & 0xFF] ^ k[0];
            uint32_t t1 = te0[s1 >> 24] ^ te1[s2 >> 16 & 0xFF]
                          ^ te2[s3 >> 8 & 0xFF] ^ te3[s0 & 0xFF] ^ k[1];
            uint32_t t2 = te0[s2 >> 24] ^ te1[s3 >> 16 & 0xFF]
                          ^ te2[s0 >> 8 & 0xFF] ^ te3[s1 & 0xFF] ^ k[2];
            uint32_t t3 = te0[s3 >> 24] ^ te1[s0 >> 16 & 0xFF]
                          ^ te2[s1 >> 8 & 0xFF] ^ te3[s2 & 0xFF] ^ k[3];
            s0 = t0;
            s1 = t1;
            s2 = t2;
            s3 = t3;
        }
        const uint32_t *k = w + 4 * nr;
        c0 = sub4(sbox, s0, s1, s2, s3) ^ k[0];
        c1 = sub4(sbox, s1, s2, s3, s0) ^ k[1];
        c2 = sub4(sbox, s2, s3, s0, s1) ^ k[2];
        c3 = sub4(sbox, s3, s0, s1, s2) ^ k[3];
        uint8_t *q = out + 16 * b;
        store_be32(q, c0);
        store_be32(q + 4, c1);
        store_be32(q + 8, c2);
        store_be32(q + 12, c3);
    }
}
"""

# -O3 vectorises nlm_offset_row's integer column sums; -O2 leaves them
# scalar (46 ms against 32 ms per blurry library page).  Neither level
# reassociates floating point.
CFLAGS = ("-O3", "-fPIC", "-shared", "-ffp-contract=off")
_CACHE_NAME = "spark-extract"


def _library_name() -> str:
    key = hashlib.sha256(
        (SOURCE + "\0" + " ".join(("cc",) + CFLAGS)).encode()
    ).hexdigest()
    return f"kernels-{key[:16]}.so"


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
    """The compiled loops, built on first use; None (and one warning per
    process) when they cannot be built or safely loaded."""
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
        log.warning(
            "native kernels unavailable, using the numpy/Python bodies: %s", exc
        )
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
    fn = lib.nlm_offset_row
    fn.argtypes = [
        ptr, i64, i64, i64,                     # img, stride, h, w
        i64, i64, i64,                          # template, s, dy
        ptr, i64, ptr, ptr, ptr,                # table, n_table, col, num, den
    ]
    fn.restype = None
    fn = lib.aes_cbc_encrypt
    fn.argtypes = [
        ptr, ptr, ptr, i64,                     # te, sbox, key, key_len
        ptr, ptr, i64, ptr,                     # iv, in, n_blocks, out
    ]
    fn.restype = None
    return lib
