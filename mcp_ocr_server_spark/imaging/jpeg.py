"""JPEG (ITU-T T.81 / ISO 10918-1) codec — pure stdlib+numpy, the DCT
analogue of imaging/png.py and functions/flac.py.

Independent re-derivation from the published standard (markers §B,
Huffman entropy coding §C/§F.2, progressive mode §G, the default
tables of Annex K); no code is taken from libjpeg or any other
implementation.

Scope (honest limits, loud refusals):
  - DECODE: baseline sequential DCT (SOF0) AND progressive DCT (SOF2
    — full spectral selection + successive approximation: DC/AC
    first and refinement scans, EOB runs, interleaved DC scans,
    per-component non-interleaved AC geometry), 8-bit samples,
    grayscale and 3-component YCbCr with any h/v sampling factors up
    to 2 (4:4:4, 4:2:2, 4:2:0), restart intervals (DRI/RSTn),
    multiple DQT/DHT segments, 0xFF00 byte unstuffing.  Arithmetic
    coding (SOF9/10), 12-bit precision, and hierarchical modes raise
    ValueError by name.
  - ENCODE: baseline grayscale or YCbCr 4:4:4 / 4:2:0, plus a
    progressive encoder (encode_jpeg_progressive — coarse DC, banded
    AC, one refinement pass of each; EOB runs never accumulated so
    the Annex K tables suffice), with the Annex K quantization
    (quality-scaled, the IJG curve — published in the libjpeg
    *documentation*, re-derived here from the formula) and Annex K
    Huffman tables.  Deterministic: same input -> same bytes.
    Progressive output decodes pixel-identical to baseline at the
    same quality (same quantized coefficients, losslessly re-coded) —
    pinned by test.

Decode strategy: the entropy decode is a per-block Python loop (bit
reader + canonical Huffman), but dequantization and the IDCT run
vectorized over ALL blocks at once (matrix form of the 8x8 DCT-III:
P = C.T @ Q @ C for every block in one einsum) — the same
batch-the-math shape the FLAC decoder uses for LPC reconstruction.

Used by: functions/pdf.py (/DCTDecode image XObjects — scanned PDFs),
functions/avi.py MJPG frame payloads (an MJPEG stream is concatenated
baseline JPEGs), and the multimodal image stages.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared tables (T.81 Annex K) and the 8x8 DCT basis

# zigzag: index i of the scan -> (row, col) in the 8x8 block
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
# Annex K Table K.1 (luminance) / K.2 (chrominance), row-major order
# (converted to zigzag at DQT-write time)
_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K Huffman specs: (BITS[1..16], HUFFVAL) — canonical code
# assignment per T.81 §C.2
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _dct_basis() -> np.ndarray:
    """8x8 DCT-II basis matrix C with C @ x = DCT(x) for a column x;
    orthonormal (C @ C.T = I), so the inverse transform is C.T."""
    k = np.arange(8).reshape(8, 1)
    n = np.arange(8).reshape(1, 8)
    c = np.cos((2 * n + 1) * k * np.pi / 16) * np.sqrt(2 / 8)
    c[0, :] = np.sqrt(1 / 8)
    return c


_C = _dct_basis()


def _canonical_codes(bits: list[int], vals: list[int]):
    """T.81 §C.2: (code, length) per symbol in spec order."""
    out = []
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out.append((vals[k], code, length))
            k += 1
            code += 1
        code <<= 1
    return out


class _HuffDecode:
    """Canonical Huffman decode table: (length, code) -> symbol, plus
    the per-length first-code/first-index arrays for fast lookup."""

    def __init__(self, bits: list[int], vals: list[int]):
        self.lut: dict[tuple[int, int], int] = {}
        for sym, code, length in _canonical_codes(bits, vals):
            self.lut[(length, code)] = sym
        self.maxlen = max(
            (ln for ln in range(1, 17) if bits[ln - 1]), default=0
        )


# zero bytes the reader may feed past a marker before it refuses: a
# valid scan pads only its look-ahead (at most 3 bytes measured on the
# in-repo encoders), while a frame that claims MCUs its data lacks
# would otherwise decode them all from zeros
_MAX_PAD_BYTES = 64


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; stops at any non-RST marker.  T.81 §F.2.2.5."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None  # marker that ended the segment
        self.padded = 0  # zero bytes fed since that marker

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.marker is not None:
                # past a marker: feed 0 bits (spec: decoder pads)
                self.padded += 1
                if self.padded > _MAX_PAD_BYTES:
                    raise ValueError(
                        "jpeg: scan data ends before the frame's last MCU"
                    )
                self.acc = (self.acc << 8) & 0xFFFFFFFF
                self.nbits += 8
                continue
            if self.pos >= len(d):
                raise ValueError("jpeg: truncated entropy stream")
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
                if nxt == 0x00:
                    self.pos += 2  # stuffed 0xFF data byte
                elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                    # RST markers are consumed by reset(), not here
                    self.marker = nxt
                    continue
                else:
                    self.marker = nxt if nxt is not None else 0xD9
                    continue
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFFFF
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: _HuffDecode) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code")

    def reset_at_rst(self) -> None:
        """Consume the pending RSTn marker and realign to byte
        boundary (restart interval, T.81 §F.2.1.3.1)."""
        self.acc = 0
        self.nbits = 0
        if self.marker is None:
            # interval ended exactly on a byte boundary: the marker
            # was never reached by _fill — it sits at pos directly
            d = self.data
            if (self.pos + 1 < len(d) and d[self.pos] == 0xFF
                    and 0xD0 <= d[self.pos + 1] <= 0xD7):
                self.marker = d[self.pos + 1]
        if self.marker is not None and 0xD0 <= self.marker <= 0xD7:
            # skip the 0xFF RSTn pair in the byte stream
            self.pos += 2
            self.marker = None
            self.padded = 0
        else:
            raise ValueError("jpeg: expected restart marker")


def _extend(v: int, n: int) -> int:
    """T.81 §F.2.2.1 EXTEND: map an n-bit magnitude to its signed
    value."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


# ---------------------------------------------------------------------------
# decoder

def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JPEG to uint8: (h, w) for grayscale, (h, w, 3)
    RGB for YCbCr.  Raises ValueError (naming the feature) for
    progressive/arithmetic/12-bit/hierarchical streams and structural
    corruption."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI marker")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecode] = {}
    huff_ac: dict[int, _HuffDecode] = {}
    restart_interval = 0
    frame = None  # (h, w, comps) with comps = [(cid, hs, vs, tq)]
    progressive = False
    prog_state: dict[int, dict] = {}  # cid -> coefficient store
    scans_seen = 0
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD8:
            pos += 2
            continue
        if marker == 0xD9:
            break
        seglen = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        if seglen < 2 or pos + 2 + seglen > len(data):
            raise ValueError("jpeg: truncated marker segment")
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            kind = {
                0xC9: "arithmetic coding (SOF9)",
                0xCA: "progressive arithmetic (SOF10)",
            }.get(marker, f"SOF{marker - 0xC0} mode")
            raise ValueError(f"jpeg: {kind} unsupported")
        if marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            if len(seg) < 6:
                raise ValueError("jpeg: truncated SOF")
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            if nc not in (1, 3):
                raise ValueError("jpeg: only 1 or 3 components supported")
            if len(seg) < 6 + 3 * nc:
                raise ValueError("jpeg: truncated SOF")
            if not h or not w:
                raise ValueError("jpeg: zero frame dimension")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0xF <= 4):
                    raise ValueError("jpeg: sampling factor outside 1-4")
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
            pos += 2 + seglen
            continue
        if marker == 0xC4:  # DHT (may hold several tables)
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                if len(bits) < 16 or p + 17 + nv > len(seg):
                    raise ValueError("jpeg: DHT counts run past its values")
                vals = list(seg[p + 17 : p + 17 + nv])
                tbl = _HuffDecode(bits, vals)
                if tc_th >> 4 == 0:
                    huff_dc[tc_th & 0xF] = tbl
                else:
                    huff_ac[tc_th & 0xF] = tbl
                p += 17 + nv
            pos += 2 + seglen
            continue
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq_tq = seg[p]
                if pq_tq >> 4 != 0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                if p + 65 > len(seg):
                    raise ValueError("jpeg: truncated DQT")
                qz = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                ).astype(np.int64)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZIGZAG] = qz  # zigzag order -> row-major
                qt[pq_tq & 0xF] = tbl
                p += 65
            pos += 2 + seglen
            continue
        if marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("jpeg: truncated DRI")
            restart_interval = struct.unpack(">H", seg[:2])[0]
            pos += 2 + seglen
            continue
        if marker == 0xDA:  # SOS — scan follows
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0] if seg else 0
            if len(seg) < 4 + 2 * ns:
                raise ValueError("jpeg: truncated SOS")
            frame_ids = {c[0] for c in frame[2]}
            scan = []
            for i in range(ns):
                cs, td_ta = seg[1 + 2 * i], seg[2 + 2 * i]
                if cs not in frame_ids:
                    raise ValueError(
                        "jpeg: scan references unknown component"
                    )
                scan.append((cs, td_ta >> 4, td_ta & 0xF))
            ss, se, ah_al = seg[1 + 2 * ns : 4 + 2 * ns]
            if progressive and not ss <= se <= 63:
                raise ValueError("jpeg: spectral selection outside 0-63")
            # Header fields are checked above; what can still go wrong
            # comes from the entropy-coded data (a magnitude past int64,
            # an index off a coefficient store) and surfaces here as one
            # error, so the per-coefficient loops carry no checks.
            try:
                if not progressive:
                    return _decode_scan(
                        data, pos + 2 + seglen, frame, scan, qt,
                        huff_dc, huff_ac, restart_interval,
                    )
                _progressive_scan(
                    data, pos + 2 + seglen, frame, scan, qt, huff_dc,
                    huff_ac, restart_interval, prog_state,
                    ss, se, ah_al >> 4, ah_al & 0xF,
                )
            except (IndexError, OverflowError) as e:
                raise ValueError(
                    f"jpeg: corrupt scan data ({e})"
                ) from e
            scans_seen += 1
            pos = _next_marker(data, pos + 2 + seglen)
            continue
        pos += 2 + seglen  # APPn / COM / others: skip
    if progressive and scans_seen:
        h, w, comps = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        parts = []
        for cid, hs, vs, tq in comps:
            if cid not in prog_state:
                raise ValueError(f"jpeg: component {cid} has no scan")
            if tq not in qt:
                raise ValueError("jpeg: missing quant table")
            st = prog_state[cid]
            parts.append(dict(coef=st["coef"], q=qt[tq],
                              bw=st["bw"], hs=hs, vs=vs))
        return _assemble(h, w, hmax, vmax, mcux, mcuy, parts)
    raise ValueError("jpeg: no SOS scan found")


def _next_marker(data: bytes, pos: int) -> int:
    """Skip entropy-coded bytes to the next real marker (not a stuffed
    0xFF00, not an RSTn — those live inside the scan)."""
    while pos + 1 < len(data):
        if (
            data[pos] == 0xFF
            and data[pos + 1] != 0x00
            and data[pos + 1] != 0xFF  # fill byte
            and not (0xD0 <= data[pos + 1] <= 0xD7)
        ):
            return pos
        pos += 1
    return len(data)


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac, dri):
    h, w, comps = frame
    if len(scan) != len(comps):
        raise ValueError("jpeg: non-interleaved scans unsupported")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    # per scan component: sampling, tables, coefficient store
    parts = []
    for cs, td, ta in scan:
        hs, vs, tq = by_id[cs]
        if tq not in qt or td not in huff_dc or ta not in huff_ac:
            raise ValueError("jpeg: missing quant/Huffman table")
        nblocks = mcux * hs * mcuy * vs
        parts.append(dict(
            cid=cs, hs=hs, vs=vs, q=qt[tq], dc=huff_dc[td],
            ac=huff_ac[ta], coef=np.zeros((nblocks, 64), dtype=np.int64),
            bw=mcux * hs,  # blocks per row
            pred=0,
        ))
    br = _BitReader(data, pos)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                br.reset_at_rst()
                for p in parts:
                    p["pred"] = 0
            for p in parts:
                for v in range(p["vs"]):
                    for hh in range(p["hs"]):
                        bx = mx * p["hs"] + hh
                        by = my * p["vs"] + v
                        blk = p["coef"][by * p["bw"] + bx]
                        # DC (§F.2.2.1)
                        t = br.decode_huff(p["dc"])
                        diff = _extend(br.receive(t), t)
                        p["pred"] += diff
                        blk[0] = p["pred"]
                        # AC (§F.2.2.2)
                        k = 1
                        while k < 64:
                            rs = br.decode_huff(p["ac"])
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "jpeg: AC index past block end"
                                )
                            blk[k] = _extend(br.receive(s), s)
                            k += 1
            mcu_count += 1
    return _assemble(h, w, hmax, vmax, mcux, mcuy, parts)


def _assemble(h, w, hmax, vmax, mcux, mcuy, parts) -> np.ndarray:
    """Dequant + IDCT per component, assemble planes, color-convert —
    shared by the baseline and progressive paths."""
    planes = []
    for p in parts:
        deq = np.zeros_like(p["coef"], dtype=np.float64)
        deq[:, _ZIGZAG] = (p["coef"] * p["q"][_ZIGZAG])  # scan->row-major
        blocks = deq.reshape(-1, 8, 8)
        # IDCT: C.T @ B @ C for every block
        pix = np.einsum("ij,njk,kl->nil", _C.T, blocks, _C) + 128.0
        bw = p["bw"]
        bh = len(blocks) // bw
        plane = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        planes.append(np.clip(np.round(plane), 0, 255).astype(np.uint8))
    if len(parts) == 1:
        return planes[0][:h, :w]
    # upsample chroma to Y geometry (nearest), YCbCr -> RGB (JFIF)
    full = []
    for p, plane in zip(parts, planes):
        ry, rx = vmax // p["vs"], hmax // p["hs"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full.append(plane[: mcuy * vmax * 8, : mcux * hmax * 8])
    y = full[0].astype(np.float64)[:h, :w]
    cb = full[1].astype(np.float64)[:h, :w] - 128.0
    cr = full[2].astype(np.float64)[:h, :w] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def _progressive_scan(data, pos, frame, scan, qt, huff_dc, huff_ac,
                      dri, state, ss, se, ah, al):
    """One SOF2 scan (T.81 §G.2) into the per-component coefficient
    stores.  DC scans (Ss=0) may be interleaved; AC scans are always
    single-component and walk the component's OWN block grid (the
    non-interleaved geometry — NOT the MCU-padded one).  Successive
    approximation: first scans (Ah=0) code values at Al-bit reduced
    precision, refinement scans (Ah=Al+1) add one bit per coefficient
    via the correction-bit protocol."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    by_id = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    for cs, _td, _ta in scan:
        hs, vs, _ = by_id[cs]
        if cs not in state:
            state[cs] = dict(
                coef=np.zeros((mcux * hs * mcuy * vs, 64), dtype=np.int64),
                bw=mcux * hs,
            )
    br = _BitReader(data, pos)

    def comp_grid(cs):
        """(blocks_wide, blocks_high) of the component's own geometry."""
        hs, vs, _ = by_id[cs]
        return (
            (-(-(w * hs) // hmax) + 7) // 8,
            (-(-(h * vs) // vmax) + 7) // 8,
        )

    if ss == 0:  # DC scan
        if se != 0:
            raise ValueError("jpeg: DC scan with Se != 0")
        dc_tbl = {}
        if ah == 0:
            for cs, td, _ta in scan:
                if td not in huff_dc:
                    raise ValueError("jpeg: missing DC Huffman table")
                dc_tbl[cs] = huff_dc[td]
        preds = {cs: 0 for cs, _, _ in scan}

        def dc_one(cs, blk):
            if ah == 0:
                t = br.decode_huff(dc_tbl[cs])
                preds[cs] += _extend(br.receive(t), t)
                blk[0] = preds[cs] << al
            elif br.read_bit():
                blk[0] |= 1 << al

        n = 0
        if len(scan) > 1:  # interleaved MCU walk
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and n and n % dri == 0:
                        br.reset_at_rst()
                        preds = {cs: 0 for cs, _, _ in scan}
                    for cs, _td, _ta in scan:
                        hs, vs, _ = by_id[cs]
                        st = state[cs]
                        for v in range(vs):
                            for hh in range(hs):
                                dc_one(cs, st["coef"][
                                    (my * vs + v) * st["bw"] + mx * hs + hh
                                ])
                    n += 1
        else:
            cs = scan[0][0]
            st = state[cs]
            cbw, cbh = comp_grid(cs)
            for by in range(cbh):
                for bx in range(cbw):
                    if dri and n and n % dri == 0:
                        br.reset_at_rst()
                        preds = {cs: 0}
                    dc_one(cs, st["coef"][by * st["bw"] + bx])
                    n += 1
        return

    # AC scan: single component, non-interleaved walk
    if len(scan) != 1:
        raise ValueError("jpeg: interleaved AC scan is illegal")
    cs, _td, ta = scan[0]
    if ta not in huff_ac:
        raise ValueError("jpeg: missing AC Huffman table")
    ac = huff_ac[ta]
    st = state[cs]
    cbw, cbh = comp_grid(cs)
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)

    def ac_first(blk):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = br.decode_huff(ac)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:  # EOBn: run of 2^r (+bits) all-zero bands
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += br.receive(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                raise ValueError("jpeg: AC index past band end")
            blk[k] = _extend(br.receive(s), s) << al
            k += 1

    def ac_refine(blk):
        # §G.1.2.3 correction-bit protocol (the libjpeg structure)
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = br.decode_huff(ac)
                r, s = rs >> 4, rs & 0xF
                newval = 0
                if s:
                    if s != 1:
                        raise ValueError(
                            "jpeg: refinement magnitude must be 1"
                        )
                    newval = p1 if br.read_bit() else m1
                elif r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break
                # advance past r zero-history coefficients, appending
                # a correction bit to every nonzero-history one passed
                while k <= se:
                    v = int(blk[k])
                    if v != 0:
                        if br.read_bit() and (v & p1) == 0:
                            blk[k] = v + (p1 if v >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("jpeg: refinement overruns band")
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:  # correction bits through the band's tail
                v = int(blk[k])
                if v != 0 and br.read_bit() and (v & p1) == 0:
                    blk[k] = v + (p1 if v >= 0 else m1)
                k += 1
            eobrun -= 1

    step = ac_first if ah == 0 else ac_refine
    n = 0
    for by in range(cbh):
        for bx in range(cbw):
            if dri and n and n % dri == 0:
                br.reset_at_rst()
                eobrun = 0
            step(st["coef"][by * st["bw"] + bx])
            n += 1


def decode_jpeg_gray(data: bytes) -> np.ndarray:
    """Grayscale view of a baseline JPEG: the Y plane for YCbCr streams
    (exact — no colorspace round-trip), the single component for
    grayscale ones."""
    out = decode_jpeg(data)
    if out.ndim == 2:
        return out
    # luma from RGB would round-trip the color transform; recompute the
    # BT.601 fold instead (identical to the Y plane up to clipping)
    rgb = out.astype(np.uint32)
    return (
        (77 * rgb[..., 0] + 150 * rgb[..., 1] + 29 * rgb[..., 2] + 128)
        >> 8
    ).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder

def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality curve (re-derived from the published formula):
    q<50 scales up (5000/q), q>=50 scales down (200-2q)."""
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (base * s + 50) // 100
    return np.clip(t, 1, 255)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits (spec)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, code) for a signed coefficient (T.81 §F.1.2.1.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    n = a.bit_length()
    code = v if v > 0 else v + (1 << n) - 1
    return n, code


def _encode_blocks(
    bw: _BitWriter, blocks: np.ndarray, q: np.ndarray,
    dc_codes: dict, ac_codes: dict, pred: int,
) -> int:
    """Quantize + entropy-code a (n, 8, 8) stack of level-shifted
    blocks; returns the updated DC predictor."""
    # DCT-II all blocks at once, quantize, zigzag
    coefs = np.einsum("ij,njk,kl->nil", _C, blocks, _C.T)
    qmat = q.reshape(8, 8).astype(np.float64)
    quant = np.round(coefs / qmat).astype(np.int64).reshape(-1, 64)
    zz = quant[:, _ZIGZAG]
    for blk in zz:
        diff = int(blk[0]) - pred
        pred = int(blk[0])
        n, code = _magnitude(diff)
        c, ln = dc_codes[n]
        bw.write(c, ln)
        if n:
            bw.write(code, n)
        run = 0
        nz = np.nonzero(blk[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(blk[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]  # ZRL
                bw.write(c, ln)
                run -= 16
            n, code = _magnitude(v)
            c, ln = ac_codes[(run << 4) | n]
            bw.write(c, ln)
            bw.write(code, n)
            run = 0
        if last < 63:
            c, ln = ac_codes[0x00]  # EOB
            bw.write(c, ln)
    return pred


def _codes_dict(bits: list[int], vals: list[int]) -> dict:
    return {
        sym: (code, length)
        for sym, code, length in _canonical_codes(bits, vals)
    }


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(h, w) float plane (already level-shifted) -> (n, 8, 8) blocks in
    raster order; h and w must be multiples of 8."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _pad_to(img: np.ndarray, mh: int, mw: int) -> np.ndarray:
    """Edge-replicate to multiples of (mh, mw) — replication keeps the
    boundary blocks' high-frequency energy (and thus ringing) low."""
    h, w = img.shape
    ph = (mh - h % mh) % mh
    pw = (mw - w % mw) % mw
    return np.pad(img, ((0, ph), (0, pw)), mode="edge")


def encode_jpeg(
    img: np.ndarray, quality: int = 90, subsample=False,
    restart_interval: int = 0,
) -> bytes:
    """Deterministic baseline JPEG encoder.

    (h, w) uint8 -> grayscale JFIF; (h, w, 3) uint8 RGB -> YCbCr,
    4:4:4 by default, 4:2:0 with subsample=True or "420" (2x2
    box-averaged chroma), or 4:2:2 with subsample="422" (2x1
    horizontal averaging — the broadcast-video shape).  Annex K
    tables, quality-scaled quantization.  restart_interval > 0 emits
    DRI + RSTn markers every n MCUs (grayscale only — enough to pin
    the decoder's restart path)."""
    img = np.asarray(img)
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("encode_jpeg expects uint8 (h,w) or (h,w,3)")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("encode_jpeg: empty image")
    color = img.ndim == 3
    mode = {False: "444", True: "420"}.get(subsample, subsample)
    if mode not in ("444", "420", "422"):
        raise ValueError(f"encode_jpeg: unknown subsample mode {subsample!r}")
    qlum = _quality_scale(_QT_LUM, quality)
    qchrom = _quality_scale(_QT_CHROM, quality)
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    # DQT (zigzag order on the wire)
    for tq, q in ([(0, qlum), (1, qchrom)] if color else [(0, qlum)]):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq)
        out += bytes(int(q[z]) for z in _ZIGZAG)
    # SOF0
    nc = 3 if color else 1
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    if color:
        sub = {"444": 0x11, "420": 0x22, "422": 0x21}[mode]
        out += bytes([1, sub, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        out += bytes([1, 0x11, 0])
    # DHT
    def dht(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
        return (
            b"\xff\xc4"
            + struct.pack(">HB", 19 + len(vals), tc_th)
            + bytes(bits) + bytes(vals)
        )

    out += dht(0x00, _DC_LUM_BITS, _DC_LUM_VALS)
    out += dht(0x10, _AC_LUM_BITS, _AC_LUM_VALS)
    if color:
        out += dht(0x01, _DC_CHROM_BITS, _DC_CHROM_VALS)
        out += dht(0x11, _AC_CHROM_BITS, _AC_CHROM_VALS)
    if restart_interval:
        if color:
            raise ValueError(
                "encode_jpeg: restart_interval is grayscale-only"
            )
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    if color:
        out += bytes([1, 0x00, 2, 0x11, 3, 0x11])
    else:
        out += bytes([1, 0x00])
    out += bytes([0, 63, 0])
    bw = _BitWriter()
    dc_lum = _codes_dict(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_lum = _codes_dict(_AC_LUM_BITS, _AC_LUM_VALS)
    if not color:
        plane = _pad_to(img.astype(np.float64), 8, 8) - 128.0
        blocks = _blockify(plane)
        if not restart_interval:
            _encode_blocks(bw, blocks, qlum, dc_lum, ac_lum, 0)
        else:
            rst = 0
            for i in range(0, len(blocks), restart_interval):
                if i:
                    bw.flush()
                    bw.out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                # DC predictor resets to 0 at every restart (§F.2.1.3.1)
                _encode_blocks(
                    bw, blocks[i : i + restart_interval], qlum,
                    dc_lum, ac_lum, 0,
                )
    else:
        dc_ch = _codes_dict(_DC_CHROM_BITS, _DC_CHROM_VALS)
        ac_ch = _codes_dict(_AC_CHROM_BITS, _AC_CHROM_VALS)
        rgb = img.astype(np.float64)
        y = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
             + 0.114 * rgb[..., 2])
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] \
            + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] \
            - 0.081312 * rgb[..., 2]
        if mode == "420":
            y = _pad_to(y, 16, 16)
            cb = _pad_to(cb, 16, 16)
            cr = _pad_to(cr, 16, 16)
            # 2x2 box average
            cb = cb.reshape(cb.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
        elif mode == "422":
            y = _pad_to(y, 8, 16)
            cb = _pad_to(cb, 8, 16)
            cr = _pad_to(cr, 8, 16)
            # 2x1 horizontal average
            cb = cb.reshape(cb.shape[0], -1, 2).mean(axis=2)
            cr = cr.reshape(cr.shape[0], -1, 2).mean(axis=2)
        else:
            y = _pad_to(y, 8, 8)
            cb = _pad_to(cb, 8, 8)
            cr = _pad_to(cr, 8, 8)
        yb = _blockify(y - 128.0)
        cbb = _blockify(cb - 128.0)
        crb = _blockify(cr - 128.0)
        if mode == "444":
            # interleave per MCU: one block each of Y, Cb, Cr
            preds = [0, 0, 0]
            for i in range(len(yb)):
                preds[0] = _encode_blocks(
                    bw, yb[i : i + 1], qlum, dc_lum, ac_lum, preds[0])
                preds[1] = _encode_blocks(
                    bw, cbb[i : i + 1], qchrom, dc_ch, ac_ch, preds[1])
                preds[2] = _encode_blocks(
                    bw, crb[i : i + 1], qchrom, dc_ch, ac_ch, preds[2])
        elif mode == "422":
            # MCU = 2 Y blocks (1x2) + 1 Cb + 1 Cr
            ybw = y.shape[1] // 8
            cbw = cb.shape[1] // 8
            preds = [0, 0, 0]
            for my in range(y.shape[0] // 8):
                for mx in range(ybw // 2):
                    for hh in range(2):
                        idx = my * ybw + mx * 2 + hh
                        preds[0] = _encode_blocks(
                            bw, yb[idx : idx + 1], qlum,
                            dc_lum, ac_lum, preds[0])
                    ci = my * cbw + mx
                    preds[1] = _encode_blocks(
                        bw, cbb[ci : ci + 1], qchrom, dc_ch, ac_ch,
                        preds[1])
                    preds[2] = _encode_blocks(
                        bw, crb[ci : ci + 1], qchrom, dc_ch, ac_ch,
                        preds[2])
        else:
            # MCU = 4 Y blocks (2x2) + 1 Cb + 1 Cr
            ybw = y.shape[1] // 8
            cbw = cb.shape[1] // 8
            mcux, mcuy = ybw // 2, y.shape[0] // 16
            preds = [0, 0, 0]
            for my in range(mcuy):
                for mx in range(mcux):
                    for v in range(2):
                        for hh in range(2):
                            idx = (my * 2 + v) * ybw + mx * 2 + hh
                            preds[0] = _encode_blocks(
                                bw, yb[idx : idx + 1], qlum,
                                dc_lum, ac_lum, preds[0])
                    ci = my * cbw + mx
                    preds[1] = _encode_blocks(
                        bw, cbb[ci : ci + 1], qchrom, dc_ch, ac_ch,
                        preds[1])
                    preds[2] = _encode_blocks(
                        bw, crb[ci : ci + 1], qchrom, dc_ch, ac_ch,
                        preds[2])
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# progressive encoder (SOF2, spectral selection + successive
# approximation — the web's dominant JPEG shape; §G.1)


def _quantize_zigzag(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(h, w) level-shifted plane -> (n, 64) quantized zigzag blocks."""
    blocks = _blockify(plane)
    coefs = np.einsum("ij,njk,kl->nil", _C, blocks, _C.T)
    quant = np.round(coefs / q.reshape(8, 8)).astype(np.int64)
    return quant.reshape(-1, 64)[:, _ZIGZAG]


def _sa_shift(v: int, al: int) -> int:
    """Successive-approximation point transform: magnitude shift,
    truncating toward zero (C's signed >> is floor; the spec wants
    |v| >> Al re-signed)."""
    return -((-v) >> al) if v < 0 else v >> al


def _emit_dc_first(bw, zz_list, dc_codes_list, al, mcu_order):
    """Interleaved DC first scan: blocks visited in MCU order
    (mcu_order = [(component, block_index), ...] — for 4:4:4 one
    block per component per MCU, for 4:2:0 the 2x2-Y walk)."""
    preds = [0] * len(zz_list)
    for c, i in mcu_order:
        zz = zz_list[c]
        dc = int(zz[i][0]) >> al  # floor shift, mirrored by decode
        diff = dc - preds[c]
        preds[c] = dc
        n, code = _magnitude(diff)
        hc, ln = dc_codes_list[c][n]
        bw.write(hc, ln)
        if n:
            bw.write(code, n)


def _emit_dc_refine(bw, zz_list, al, mcu_order):
    for c, i in mcu_order:
        bw.write((int(zz_list[c][i][0]) >> al) & 1, 1)


def _comp_block_iter(zz, cbw, cbh, padded_bw):
    """Blocks of one component in its OWN (non-interleaved) grid order
    — an AC scan never visits the MCU-padding blocks beyond the
    component's image-covering grid."""
    for by in range(cbh):
        for bx in range(cbw):
            yield zz[by * padded_bw + bx]


def _emit_ac_first(bw, blocks, ac_codes, ss, se, al):
    """AC first scan for one component/band.  EOB runs are not
    accumulated (every all-zero tail emits its own EOB0), which the
    Annex K tables can express."""
    for blk in blocks:
        run = 0
        for k in range(ss, se + 1):
            v = _sa_shift(int(blk[k]), al)
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac_codes[0xF0]
                bw.write(c, ln)
                run -= 16
            n, code = _magnitude(v)
            c, ln = ac_codes[(run << 4) | n]
            bw.write(c, ln)
            bw.write(code, n)
            run = 0
        if run:
            c, ln = ac_codes[0x00]  # EOB0
            bw.write(c, ln)


def _emit_ac_refine(bw, blocks, ac_codes, ss, se, ah, al):
    """AC refinement scan (§G.1.2.3): newly-nonzero coefficients
    (|v|>>Al == 1, history zero) emit run/1 symbols + a sign bit;
    previously-nonzero ones append correction bits after the next
    emitted symbol.  Due ZRLs must be emitted (with their buffered
    correction bits) at EVERY nonzero position — history included —
    but only while a newly-nonzero coefficient is still ahead
    (k <= EOB); past it the run folds into the EOB symbol.  The
    emission order per symbol is symbol, sign, THEN buffered bits —
    exactly what the decoder's advance loop consumes."""
    for blk in blocks:
        cur = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
        eob_rel = max(
            (i for i, a in enumerate(cur) if a == 1), default=-1
        )
        pending: list[int] = []
        run = 0
        for i, k in enumerate(range(ss, se + 1)):
            v = int(blk[k])
            a = -v if v < 0 else v
            if (a >> al) == 0:
                run += 1
                continue
            while run > 15 and i <= eob_rel:
                c, ln = ac_codes[0xF0]
                bw.write(c, ln)
                for bit in pending:
                    bw.write(bit, 1)
                pending = []
                run -= 16
            if (a >> ah) != 0:  # history nonzero: correction bit
                pending.append((a >> al) & 1)
                continue
            # newly nonzero (necessarily magnitude 1 at this precision)
            c, ln = ac_codes[(run << 4) | 1]
            bw.write(c, ln)
            bw.write(1 if v > 0 else 0, 1)
            for bit in pending:
                bw.write(bit, 1)
            pending = []
            run = 0
        if run or pending:
            c, ln = ac_codes[0x00]  # EOB0
            bw.write(c, ln)
            for bit in pending:
                bw.write(bit, 1)


def encode_jpeg_progressive(
    img: np.ndarray, quality: int = 90, subsample: bool = False,
) -> bytes:
    """Deterministic progressive JPEG (SOF2), grayscale / YCbCr 4:4:4,
    or 4:2:0 with subsample=True (2x2 box-averaged chroma, the shape
    of most real-world progressive files).

    Scan script (the classic shape: coarse DC, banded AC, then one
    refinement pass of each): DC first at Al=1; per component AC bands
    1-5 and 6-63 at Al=1; per component AC refinements of both bands
    at Ah=1/Al=0; DC refinement last.  Annex K tables throughout
    (possible because EOB runs are never accumulated past one).
    DC scans are interleaved in MCU order (2x2 Y blocks per MCU at
    4:2:0); AC scans are non-interleaved and walk each component's
    OWN image-covering block grid — never the MCU padding blocks."""
    img = np.asarray(img)
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("encode_jpeg expects uint8 (h,w) or (h,w,3)")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("encode_jpeg: empty image")
    color = img.ndim == 3
    if subsample and not color:
        raise ValueError("encode_jpeg: subsample needs a color image")
    qlum = _quality_scale(_QT_LUM, quality)
    qchrom = _quality_scale(_QT_CHROM, quality)
    nc = 3 if color else 1
    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    for tq, q in ([(0, qlum), (1, qchrom)] if color else [(0, qlum)]):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq)
        out += bytes(int(q[z]) for z in _ZIGZAG)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    if color:
        ysub = 0x22 if subsample else 0x11
        out += bytes([1, ysub, 0, 2, 0x11, 1, 3, 0x11, 1])
    else:
        out += bytes([1, 0x11, 0])

    def dht(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
        return (
            b"\xff\xc4"
            + struct.pack(">HB", 19 + len(vals), tc_th)
            + bytes(bits) + bytes(vals)
        )

    out += dht(0x00, _DC_LUM_BITS, _DC_LUM_VALS)
    out += dht(0x10, _AC_LUM_BITS, _AC_LUM_VALS)
    if color:
        out += dht(0x01, _DC_CHROM_BITS, _DC_CHROM_VALS)
        out += dht(0x11, _AC_CHROM_BITS, _AC_CHROM_VALS)

    # quantized zigzag coefficients per component, plus each
    # component's padded grid width and image-covering grid
    if color:
        rgb = img.astype(np.float64)
        y = (0.299 * rgb[..., 0] + 0.587 * rgb[..., 1]
             + 0.114 * rgb[..., 2])
        cb = 128.0 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] \
            + 0.5 * rgb[..., 2]
        cr = 128.0 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] \
            - 0.081312 * rgb[..., 2]
        if subsample:
            y = _pad_to(y, 16, 16)
            cb = _pad_to(cb, 16, 16)
            cr = _pad_to(cr, 16, 16)
            cb = cb.reshape(cb.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            grids = [  # (padded_bw, comp-grid bw, comp-grid bh)
                (y.shape[1] // 8, (w + 7) // 8, (h + 7) // 8),
                (cb.shape[1] // 8, (-(-w // 2) + 7) // 8,
                 (-(-h // 2) + 7) // 8),
                (cr.shape[1] // 8, (-(-w // 2) + 7) // 8,
                 (-(-h // 2) + 7) // 8),
            ]
        else:
            y = _pad_to(y, 8, 8)
            cb = _pad_to(cb, 8, 8)
            cr = _pad_to(cr, 8, 8)
            g = (y.shape[1] // 8, (w + 7) // 8, (h + 7) // 8)
            grids = [g, g, g]
        zz_list = [
            _quantize_zigzag(p - 128.0, q)
            for p, q in ((y, qlum), (cb, qchrom), (cr, qchrom))
        ]
        dc_codes = [_codes_dict(_DC_LUM_BITS, _DC_LUM_VALS),
                    _codes_dict(_DC_CHROM_BITS, _DC_CHROM_VALS),
                    _codes_dict(_DC_CHROM_BITS, _DC_CHROM_VALS)]
        ac_codes = [_codes_dict(_AC_LUM_BITS, _AC_LUM_VALS),
                    _codes_dict(_AC_CHROM_BITS, _AC_CHROM_VALS),
                    _codes_dict(_AC_CHROM_BITS, _AC_CHROM_VALS)]
        comp_ids = [1, 2, 3]
        tds = [0, 1, 1]
        tas = [0, 1, 1]
    else:
        plane = _pad_to(img.astype(np.float64), 8, 8) - 128.0
        zz_list = [_quantize_zigzag(plane, qlum)]
        grids = [(plane.shape[1] // 8, (w + 7) // 8, (h + 7) // 8)]
        dc_codes = [_codes_dict(_DC_LUM_BITS, _DC_LUM_VALS)]
        ac_codes = [_codes_dict(_AC_LUM_BITS, _AC_LUM_VALS)]
        comp_ids = [1]
        tds = [0]
        tas = [0]

    # MCU-order visit list for the interleaved DC scans
    mcu_order: list[tuple[int, int]] = []
    if color and subsample:
        ybw = grids[0][0]
        cbw2 = grids[1][0]
        for my in range(y.shape[0] // 16):
            for mx in range(ybw // 2):
                for v in range(2):
                    for hh in range(2):
                        mcu_order.append(
                            (0, (my * 2 + v) * ybw + mx * 2 + hh))
                mcu_order.append((1, my * cbw2 + mx))
                mcu_order.append((2, my * cbw2 + mx))
    else:
        for i in range(len(zz_list[0])):
            for c in range(nc):
                mcu_order.append((c, i))

    def sos(comps_in_scan, ss, se, ah, al) -> bytes:
        ns = len(comps_in_scan)
        hdr = b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for c in comps_in_scan:
            hdr += bytes([comp_ids[c], (tds[c] << 4) | tas[c]])
        hdr += bytes([ss, se, (ah << 4) | al])
        return hdr

    def run_scan(header: bytes, emit) -> None:
        nonlocal out
        out += header
        bw = _BitWriter()
        emit(bw)
        bw.flush()
        out += bw.out

    def blocks_of(c):
        padded_bw, cbw, cbh = grids[c]
        return list(_comp_block_iter(zz_list[c], cbw, cbh, padded_bw))

    all_comps = list(range(nc))
    # 1) DC first, Al=1, interleaved
    run_scan(sos(all_comps, 0, 0, 0, 1),
             lambda bw: _emit_dc_first(bw, zz_list, dc_codes, 1,
                                       mcu_order))
    # 2) AC first scans, banded, Al=1
    for c in all_comps:
        for ss, se in ((1, 5), (6, 63)):
            run_scan(sos([c], ss, se, 0, 1),
                     lambda bw, c=c, ss=ss, se=se: _emit_ac_first(
                         bw, blocks_of(c), ac_codes[c], ss, se, 1))
    # 3) AC refinements, Ah=1 -> Al=0
    for c in all_comps:
        for ss, se in ((1, 5), (6, 63)):
            run_scan(sos([c], ss, se, 1, 0),
                     lambda bw, c=c, ss=ss, se=se: _emit_ac_refine(
                         bw, blocks_of(c), ac_codes[c], ss, se, 1, 0))
    # 4) DC refinement, Ah=1 -> Al=0
    run_scan(sos(all_comps, 0, 0, 1, 0),
             lambda bw: _emit_dc_refine(bw, zz_list, 0, mcu_order))
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# EXIF orientation (the phone-camera sideways-capture signal): tag
# 0x0112 inside the APP1 "Exif" segment's embedded TIFF structure —
# parsed with the SAME IFD reader imaging/tiff.py ships.  Orientation
# is advisory display metadata, so a malformed EXIF blob degrades to
# the identity (1) rather than erroring an otherwise-valid image;
# the pixel decoder's own refusals are unaffected.

def exif_orientation(data: bytes) -> int:
    """The EXIF orientation (1-8) of a JPEG payload, 1 when absent or
    unparseable.  Only segments BEFORE the first scan are examined
    (where EXIF legally lives)."""
    if data[:2] != b"\xff\xd8":
        return 1
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return 1
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xDA:  # SOS: entropy data follows
            return 1
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if marker == 0xE1 and data[pos + 4:pos + 10] == b"Exif\x00\x00":
            from .tiff import exif_blob_orientation

            return exif_blob_orientation(data[pos + 10:pos + 2 + seglen])
        pos += 2 + seglen
    return 1


def add_exif_orientation(data: bytes, orientation: int) -> bytes:
    """Insert an APP1 Exif segment carrying ONLY the orientation tag
    right after SOI — the writer half that pins the reader."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("add_exif_orientation: not a JPEG")
    if not 1 <= orientation <= 8:
        raise ValueError("orientation must be 1-8")
    tiff = (
        b"II" + struct.pack("<HI", 42, 8)
        + struct.pack("<H", 1)                       # one IFD entry
        + struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
        + struct.pack("<I", 0)                       # no next IFD
    )
    payload = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    return data[:2] + seg + data[2:]
