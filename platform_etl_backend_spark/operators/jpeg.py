"""Baseline JPEG (ITU-T T.81 / ISO 10918-1, public spec) in pure numpy —
no PIL/libjpeg. Replaces the honest ``NotImplementedError`` stub for the
``jpeg`` format in ``decode_media`` with a real codec.

Scope (the baseline-sequential subset this module implements end-to-end):
- 8-bit samples, YCbCr (JFIF matrix) or grayscale; 4:4:4 AND the
  real-world-default 4:2:0 chroma subsampling (sampling factors 1..2 both
  axes on decode; :func:`encode_jpeg` emits either);
- 8x8 FDCT/IDCT with the orthonormal DCT-II matrix in float64 (bit-exact
  deterministic on every IEEE platform — same property the repo's other
  numeric operators rely on);
- Annex-K quantization tables scaled with the standard quality formula;
- canonical Huffman coding with the Annex-K typical tables, written into
  DHT segments; the DECODER builds its tables from the DHT/DQT segments in
  the stream (spec behavior) and handles interleaved MCUs for any
  1..2 sampling factors, so it reads ordinary baseline JPEGs (4:4:4,
  4:2:0, 4:2:2), not just this encoder's output;
- PROGRESSIVE mode (SOF2, T.81 Annex G): spectral selection AND
  successive approximation — DC first/refine and AC first/refine scans
  with EOB-run coding — on both encode (standard scan script, complete
  custom AC table because the typical tables have no code space for
  EOB-run symbols) and decode (coefficient accumulation across scans,
  figure-G.7 refinement with interleaved correction bits);
- restart intervals (DRI + RST0-7) in both modes: byte-aligned marker
  hops with DC-predictor and EOB-run resets.

Not supported (raise, never fake): arithmetic coding, hierarchical and
lossless modes, sampling factors above 2, 12-bit precision.

The Spark integration path is unchanged: payloads are opaque ``binary``
columns and decoding runs inside Arrow-batched ``mapInPandas`` (see
``operators/multimodal.py``); this module is the per-payload kernel.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# Constant tables (T.81 Annex K — public)
# --------------------------------------------------------------------------


def _zigzag_order() -> list[int]:
    out = []
    for s in range(15):
        rs = range(max(0, s - 7), min(7, s) + 1)
        for r in (rs if s % 2 == 1 else reversed(list(rs))):
            out.append(r * 8 + (s - r))
    return out


ZIGZAG = np.array(_zigzag_order(), dtype=np.int64)  # natural index per zz pos

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64).reshape(8, 8)

# (bits-per-length[1..16], symbol values) — typical tables, Annex K.
DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
     0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
     0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
     0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
     0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
     0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
     0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
     0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
     0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
     0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# Orthonormal DCT-II basis, float64.
_k = np.arange(8).reshape(8, 1).astype(np.float64)
_n = np.arange(8).reshape(1, 8).astype(np.float64)
DCT_T = np.sqrt(2.0 / 8.0) * np.cos((2 * _n + 1) * _k * np.pi / 16.0)
DCT_T[0, :] = np.sqrt(1.0 / 8.0)


def _scaled_quant(table: np.ndarray, quality: int) -> np.ndarray:
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (table * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


# --------------------------------------------------------------------------
# Huffman helpers
# --------------------------------------------------------------------------


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the canonical T.81 assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the reader."""
    return {(ln, code): sym for sym, (code, ln) in _canonical_codes(bits, vals).items()}


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category size, appended bits) for a DC diff / AC value."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


# --------------------------------------------------------------------------
# Color transforms (JFIF)
# --------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# --------------------------------------------------------------------------
# Encoder
# --------------------------------------------------------------------------


def _emit_block(w: _BitWriter, zz: np.ndarray, pred: list[int], ci: int,
                dc_tab: dict, ac_tab: dict) -> None:
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    size, bits = _magnitude(diff)
    code, ln = dc_tab[size]
    w.write(code, ln)
    w.write(bits, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz[1:])[0])) + 1 if np.any(zz[1:]) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        size, bits = _magnitude(v)
        code, ln = ac_tab[(run << 4) | size]
        w.write(code, ln)
        w.write(bits, size)
        run = 0
    if last_nz < 63:
        code, ln = ac_tab[0x00]  # EOB
        w.write(code, ln)


def _quantized_grid(plane: np.ndarray, quant: np.ndarray,
                    v: int, h: int) -> np.ndarray:
    """FDCT + quantize + zigzag, as a (block_rows, block_cols, 64) grid;
    the plane is edge-padded so the block grid tiles whole (v, h) MCUs."""
    ph = -plane.shape[0] % (8 * v)
    pw = -plane.shape[1] % (8 * h)
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = p.shape
    blocks = p.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)
    f = DCT_T @ (blocks - 128.0) @ DCT_T.T
    cq = np.round(f / quant).astype(np.int64)
    return cq.reshape(hh // 8, ww // 8, 64)[..., ZIGZAG]


def _mcu_blocks(w: "_ProgWriter", grids: list[np.ndarray],
                samplings: list[tuple[int, int]], dri: int, pred: list[int]):
    """Yield ``(component, block)`` in interleaved MCU order: each MCU
    carries h_i × v_i blocks per component in raster order (T.81 §A.2.3).
    ``dri`` > 0 emits RSTn on ``w`` every ``dri`` MCUs and resets the DC
    predictors in ``pred``."""
    h0, v0 = samplings[0]
    mcu_rows = grids[0].shape[0] // v0
    mcu_cols = grids[0].shape[1] // h0
    for u in range(mcu_rows * mcu_cols):
        if dri and u and u % dri == 0:
            w.restart()
            pred[:] = [0] * len(grids)
        my, mx = u // mcu_cols, u % mcu_cols
        for ci, (h_i, v_i) in enumerate(samplings):
            for by in range(v_i):
                for bx in range(h_i):
                    yield ci, grids[ci][my * v_i + by, mx * h_i + bx]


def _encode_scan(grids: list[np.ndarray],
                 dc_tabs: list[dict], ac_tabs: list[dict],
                 samplings: list[tuple[int, int]], dri: int = 0) -> bytes:
    """Interleaved baseline scan for arbitrary (h, v) sampling factors, in
    :func:`_mcu_blocks` order; 4:4:4 is the all-1x1 special case."""
    w = _ProgWriter()
    pred = [0] * len(grids)
    for ci, zz in _mcu_blocks(w, grids, samplings, dri, pred):
        _emit_block(w, zz, pred, ci, dc_tabs[ci], ac_tabs[ci])
    return w.flush()


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


# Custom complete AC table for progressive scans: the Annex-K typical AC
# tables have NO spare code space for the EOB-run symbols (r<<4 | 0,
# r=1..14) progressive coding needs (verified: extending them breaks the
# canonical assignment). A flat 9-bit table covers every symbol —
# (r,s=0..14 runs), ZRL, and (r<<4)|s up to size 14 — with the all-ones
# codeword unused as T.81 C.2 requires. Compression is secondary here;
# correctness and full symbol coverage are what the tests need.
_PROG_AC_SYMS = (
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 15)]
)
PROG_AC = ([0] * 8 + [len(_PROG_AC_SYMS)] + [0] * 7, _PROG_AC_SYMS)


class _ProgWriter(_BitWriter):
    """BitWriter that can also emit byte-aligned restart markers."""

    def __init__(self) -> None:
        super().__init__()
        self.rst = 0

    def restart(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + self.rst])
        self.rst = (self.rst + 1) % 8


def _emit_eobrun_first(w: _BitWriter, ac: dict, eobrun: int) -> int:
    if eobrun:
        nbits = eobrun.bit_length() - 1
        code, ln = ac[nbits << 4]
        w.write(code, ln)
        if nbits:
            w.write(eobrun - (1 << nbits), nbits)
    return 0


def _emit_ac_first_scan(
    w: _ProgWriter, grid: np.ndarray, rows: int, cols: int, ac: dict,
    ss: int, se: int, al: int, dri: int,
) -> None:
    """Non-interleaved AC-first scan (T.81 G.1.2.2): band coefficients
    point-transformed as sign * (|v| >> Al), EOB-run coding across blocks."""
    eobrun = 0
    for u in range(rows * cols):
        if dri and u and u % dri == 0:
            eobrun = _emit_eobrun_first(w, ac, eobrun)
            w.restart()
        zz = grid[u // cols, u % cols]
        r = 0
        last = 0
        tv = {}
        for k in range(ss, se + 1):
            v = int(zz[k])
            t = (abs(v) >> al) * (1 if v >= 0 else -1)
            tv[k] = t
            if t:
                last = k
        any_nz = any(tv[k] for k in range(ss, se + 1))
        for k in range(ss, (last if any_nz else ss - 1) + 1):
            t = tv[k]
            if t == 0:
                r += 1
                continue
            eobrun = _emit_eobrun_first(w, ac, eobrun)
            while r > 15:
                code, ln = ac[0xF0]
                w.write(code, ln)
                r -= 16
            size, bits = _magnitude(t)
            code, ln = ac[(r << 4) | size]
            w.write(code, ln)
            w.write(bits, size)
            r = 0
        if not any_nz or last < se:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _emit_eobrun_first(w, ac, eobrun)
    _emit_eobrun_first(w, ac, eobrun)


def _emit_ac_refine_scan(
    w: _ProgWriter, grid: np.ndarray, rows: int, cols: int, ac: dict,
    ss: int, se: int, al: int, dri: int,
) -> None:
    """Non-interleaved AC-refinement scan (T.81 G.1.2.3 / figure G.7,
    the libjpeg BE/BR split): correction bits for history-nonzero
    coefficients buffer per block (BR) and attach after the next emitted
    symbol; completed-block corrections roll into the EOB run's buffer
    (BE) and flush with the EOB symbol."""
    eobrun = 0
    be_bits: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun, be_bits
        if eobrun:
            nbits = eobrun.bit_length() - 1
            code, ln = ac[nbits << 4]
            w.write(code, ln)
            if nbits:
                w.write(eobrun - (1 << nbits), nbits)
            for b in be_bits:
                w.write(b, 1)
            eobrun, be_bits = 0, []

    for u in range(rows * cols):
        if dri and u and u % dri == 0:
            flush_eob()
            w.restart()
        zz = grid[u // cols, u % cols]
        mags = {k: abs(int(zz[k])) >> al for k in range(ss, se + 1)}
        eob = max((k for k in range(ss, se + 1) if mags[k] == 1), default=ss - 1)
        r = 0
        br: list[int] = []
        for k in range(ss, se + 1):
            a = mags[k]
            if a == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                flush_eob()
                code, ln = ac[0xF0]
                w.write(code, ln)
                r -= 16
                for b in br:
                    w.write(b, 1)
                br = []
            if a > 1:
                br.append(a & 1)
                continue
            flush_eob()
            code, ln = ac[(r << 4) | 1]
            w.write(code, ln)
            w.write(1 if int(zz[k]) >= 0 else 0, 1)
            for b in br:
                w.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be_bits += br
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _emit_dc_scan(
    w: _ProgWriter, grids: list[np.ndarray], samplings: list[tuple[int, int]],
    dc_tabs: list[dict], ah: int, al: int, dri: int,
) -> None:
    """Interleaved progressive DC scan: first pass (Ah=0) diff-codes the
    point-transformed DC (arithmetic >> Al); refinement passes send one
    bit per block."""
    pred = [0] * len(grids)
    for ci, zz in _mcu_blocks(w, grids, samplings, dri, pred):
        v0c = int(zz[0])
        if ah == 0:
            d = (v0c >> al) - pred[ci]
            pred[ci] = v0c >> al
            size, bits = _magnitude(d)
            code, ln = dc_tabs[ci][size]
            w.write(code, ln)
            w.write(bits, size)
        else:
            w.write((v0c >> al) & 1, 1)


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    progressive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(H, W, 3) uint8 RGB (or (H, W) grayscale) → JFIF.

    ``subsampling``: ``"444"`` (no chroma subsampling, 1x1 factors) or
    ``"420"`` (2x2 luma MCUs with box-averaged half-resolution chroma —
    what real-world encoders emit by default).
    ``progressive``: emit SOF2 with the standard scan script (interleaved
    DC first/refine + per-component spectral-selection AC bands with
    successive approximation — first scans at Al>0, refinement scans down
    to Al=0), using a complete custom AC table so EOB-run symbols exist.
    ``restart_interval``: emit DRI + RSTn every N MCUs (or N blocks in
    non-interleaved progressive AC scans) with predictor/EOB-run resets."""
    gray = pixels.ndim == 2
    if not gray and (pixels.ndim != 3 or pixels.shape[2] != 3):
        raise ValueError(f"expected (H, W, 3) or (H, W), got {pixels.shape}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"subsampling must be '444' or '420', got {subsampling!r}")
    h, w = pixels.shape[:2]
    qy = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    if gray:
        planes = [pixels.astype(np.float64)]
        quants, qids, tids, samps = [qy], [0], [(0, 0)], [(1, 1)]
    elif subsampling == "444":
        ycc = _rgb_to_ycbcr(pixels)
        planes = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
        quants, qids, tids = [qy, qc, qc], [0, 1, 1], [(0, 0), (1, 1), (1, 1)]
        samps = [(1, 1), (1, 1), (1, 1)]
    else:  # 420
        ph, pw = -h % 16, -w % 16
        padded = np.pad(pixels, ((0, ph), (0, pw), (0, 0)), mode="edge")
        ycc = _rgb_to_ycbcr(padded)
        hp, wp = padded.shape[:2]
        cb = ycc[..., 1].reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
        cr = ycc[..., 2].reshape(hp // 2, 2, wp // 2, 2).mean(axis=(1, 3))
        planes = [ycc[..., 0], cb, cr]
        quants, qids, tids = [qy, qc, qc], [0, 1, 1], [(0, 0), (1, 1), (1, 1)]
        samps = [(2, 2), (1, 1), (1, 1)]

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += _seg(0xDB, bytes([0x00]) + bytes(qy.reshape(64)[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += _seg(0xDB, bytes([0x01]) + bytes(qc.reshape(64)[ZIGZAG].astype(np.uint8)))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        h_i, v_i = samps[ci]
        sof += bytes([ci + 1, (h_i << 4) | v_i, qids[ci]])
    out += _seg(0xC2 if progressive else 0xC0, sof)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))

    grids = [
        _quantized_grid(p, q, v, hh)
        for p, q, (hh, v) in zip(planes, quants, samps)
    ]

    if not progressive:
        huff_specs = [(0x00, DC_LUMA), (0x10, AC_LUMA)]
        if not gray:
            huff_specs += [(0x01, DC_CHROMA), (0x11, AC_CHROMA)]
        for tc_th, (bits, vals) in huff_specs:
            out += _seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
        sos = bytes([ncomp])
        for ci in range(ncomp):
            dc_id, ac_id = tids[ci]
            sos += bytes([ci + 1, (dc_id << 4) | ac_id])
        sos += bytes([0, 63, 0])
        out += _seg(0xDA, sos)
        enc_dc = [_canonical_codes(*DC_LUMA)] + (
            [] if gray else [_canonical_codes(*DC_CHROMA)] * 2
        )
        enc_ac = [_canonical_codes(*AC_LUMA)] + (
            [] if gray else [_canonical_codes(*AC_CHROMA)] * 2
        )
        out += _encode_scan(grids, enc_dc, enc_ac, samps, dri=restart_interval)
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    # --- progressive: DHTs (typical DC + complete custom AC), scan script
    huff_specs = [(0x00, DC_LUMA), (0x10, PROG_AC)]
    if not gray:
        huff_specs += [(0x01, DC_CHROMA)]
    for tc_th, (bits, vals) in huff_specs:
        out += _seg(0xC4, bytes([tc_th]) + bytes(bits) + bytes(vals))
    enc_dc = [_canonical_codes(*DC_LUMA)] + (
        [] if gray else [_canonical_codes(*DC_CHROMA)] * 2
    )
    prog_ac = _canonical_codes(*PROG_AC)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    # non-interleaved block-grid dims per component (may be smaller than
    # the MCU-padded grid — the decoder walks the same sub-grid)
    nb = [
        (-(-(-(-(h * v_i) // vmax)) // 8), -(-(-(-(w * h_i) // hmax)) // 8))
        for (h_i, v_i) in samps
    ]

    def sos_seg(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for ci in comp_ids:
            dc_id = tids[ci][0]
            body += bytes([ci + 1, (dc_id << 4) | 0])  # AC always table 0
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    def ac_scan(ci: int, ss: int, se: int, ah: int, al: int) -> None:
        nonlocal out
        out += sos_seg([ci], ss, se, ah, al)
        w_ = _ProgWriter()
        rows, cols = nb[ci]
        emit = _emit_ac_refine_scan if ah else _emit_ac_first_scan
        emit(w_, grids[ci], rows, cols, prog_ac, ss, se, al, restart_interval)
        out += w_.flush()

    def dc_scan(ah: int, al: int) -> None:
        nonlocal out
        out += sos_seg(list(range(ncomp)), 0, 0, ah, al)
        w_ = _ProgWriter()
        _emit_dc_scan(w_, grids, samps, enc_dc, ah, al, restart_interval)
        out += w_.flush()

    dc_scan(0, 1)  # DC first, Al=1
    ac_scan(0, 1, 5, 0, 2)  # Y low band first
    if not gray:
        ac_scan(1, 1, 63, 0, 1)
        ac_scan(2, 1, 63, 0, 1)
    ac_scan(0, 6, 63, 0, 2)  # Y high band first
    ac_scan(0, 1, 63, 2, 1)  # Y refine Al 2->1
    dc_scan(1, 0)  # DC refine
    if not gray:
        ac_scan(1, 1, 63, 1, 0)
        ac_scan(2, 1, 63, 1, 0)
    ac_scan(0, 1, 63, 1, 0)  # Y refine Al 1->0
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --------------------------------------------------------------------------
# Decoder — coefficient-domain, sequential (SOF0/SOF1) AND progressive
# (SOF2: spectral selection + successive approximation, T.81 Annex G),
# with restart intervals (DRI + RST0-7) in both modes.
# --------------------------------------------------------------------------


class _ScanReader:
    """Bit reader over RAW entropy-coded bytes (stuffing intact, RSTn
    markers in place): unstuffs 0xFF00 on the fly; ``restart()``
    byte-aligns and consumes the expected RSTn marker."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated entropy-coded segment")
            b = self.data[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.data) or self.data[self.pos + 1] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                self.pos += 2
            else:
                self.pos += 1
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in stream")

    def restart(self) -> None:
        self.nbits = 0  # byte-align
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or not 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            raise ValueError(f"expected restart marker at byte {self.pos}")
        self.pos += 2


def _seq_block(reader: _ScanReader, coef: np.ndarray, dc_tab: dict, ac_tab: dict,
               pred: list[int], ci: int) -> None:
    """Sequential full-band block into zigzag-order coefficient vector."""
    size = reader.read_symbol(dc_tab)
    pred[ci] += _extend(reader.read_bits(size), size)
    coef[0] = pred[ci]
    k = 1
    while k <= 63:
        rs = reader.read_symbol(ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        coef[k] = _extend(reader.read_bits(size), size)
        k += 1


def _dc_first_block(reader: _ScanReader, coef: np.ndarray, dc_tab: dict,
                    pred: list[int], ci: int, al: int) -> None:
    size = reader.read_symbol(dc_tab)
    pred[ci] += _extend(reader.read_bits(size), size)
    coef[0] = pred[ci] << al


def _dc_refine_block(reader: _ScanReader, coef: np.ndarray, al: int) -> None:
    if reader.read_bit():
        coef[0] = int(coef[0]) | (1 << al)  # two's-complement OR (G.1.2.1)


def _ac_first_block(reader: _ScanReader, coef: np.ndarray, ac_tab: dict,
                    ss: int, se: int, al: int, eobrun: int) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.read_symbol(ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run != 15:
                eobrun = (1 << run) - 1
                if run:
                    eobrun += reader.read_bits(run)
                break
            k += 16  # ZRL
            continue
        k += run
        if k > se:
            raise ValueError("AC coefficient index out of band")
        coef[k] = _extend(reader.read_bits(size), size) << al
        k += 1
    return eobrun


def _ac_refine_block(reader: _ScanReader, coef: np.ndarray, ac_tab: dict,
                     ss: int, se: int, al: int, eobrun: int) -> int:
    """Successive-approximation AC refinement (T.81 G.1.2.3 / figure G.7):
    correction bits for history-nonzero coefficients interleave with the
    run/newly-significant symbols in coefficient order."""
    p1, m1 = 1 << al, (-1) << al

    def correct(k: int) -> None:
        if reader.read_bit():
            c = int(coef[k])
            if (c & p1) == 0:
                coef[k] = c + (p1 if c >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.read_symbol(ac_tab)
            run, size = rs >> 4, rs & 0x0F
            newval = 0
            if size == 0:
                if run != 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += reader.read_bits(run)
                    break  # current block's tail handled below
                # ZRL: advance over 16 zero-history coefficients
            else:
                if size != 1:
                    raise ValueError("bad newly-significant size in AC refinement")
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                if coef[k] != 0:
                    correct(k)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if newval and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def decode_jpeg(payload: bytes) -> np.ndarray:
    """JFIF → (H, W, 3) uint8 RGB (or (H, W) grayscale).

    Sequential baseline (SOF0/SOF1) and progressive (SOF2 — spectral
    selection AND successive approximation, DC+AC first/refine scans,
    EOB-run coding) with restart intervals in either mode. Coefficients
    accumulate per component across scans; dequantize + IDCT run once,
    vectorized over all blocks."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    progressive = False
    dri = 0
    scans: list[tuple[list[tuple[int, int, int]], int, int, int, int, bytes]] = []
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG")
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if pos + 2 + seglen > len(payload):
            raise ValueError("truncated JPEG segment")
        body = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:
            b = body
            while b:
                pq, tq = b[0] >> 4, b[0] & 0x0F
                if pq != 0:
                    raise ValueError("only 8-bit quant tables supported")
                t = np.zeros(64, dtype=np.int64)
                t[ZIGZAG] = np.frombuffer(b[1:65], dtype=np.uint8).astype(np.int64)
                quant[tq] = t.reshape(8, 8)
                b = b[65:]
        elif marker == 0xC4:
            b = body
            while b:
                tc, th = b[0] >> 4, b[0] & 0x0F
                bits = list(b[1:17])
                nv = sum(bits)
                vals = list(b[17 : 17 + nv])
                huff[(tc, th)] = _decode_table(bits, vals)
                b = b[17 + nv :]
        elif marker in (0xC0, 0xC1, 0xC2):
            progressive = marker == 0xC2
            prec, h, w, nf = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            comps = []
            for ci in range(nf):
                cid, sampling, tq = body[6 + 3 * ci : 9 + 3 * ci]
                h_i, v_i = sampling >> 4, sampling & 0x0F
                if not (1 <= h_i <= 2 and 1 <= v_i <= 2):
                    raise NotImplementedError(
                        f"sampling factors {h_i}x{v_i} not supported (1..2 only)"
                    )
                comps.append((cid, tq, h_i, v_i))
            frame = (h, w, comps)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "only sequential (SOF0/1) and progressive huffman (SOF2) supported"
            )
        elif marker == 0xDD:
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_comps = []
            for ci in range(ns):
                cid, t = body[1 + 2 * ci : 3 + 2 * ci]
                idx = next(
                    i for i, c in enumerate(frame[2]) if c[0] == cid
                )
                scan_comps.append((idx, t >> 4, t & 0x0F))
            ss, se, ahl = body[1 + 2 * ns : 4 + 2 * ns]
            # raw entropy bytes: stuffed 0xFF00 and RSTn stay in; stop at
            # any other marker
            end = pos
            while end + 1 < len(payload):
                if payload[end] == 0xFF:
                    nxt = payload[end + 1]
                    if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                        end += 2
                        continue
                    break
                end += 1
            scans.append(
                (scan_comps, ss, se, ahl >> 4, ahl & 0x0F, payload[pos:end])
            )
            pos = end
    if frame is None or not scans:
        raise ValueError("missing SOF or SOS segment")

    h, w, comps = frame
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcu_cols = -(-w // (8 * hmax))
    mcu_rows = -(-h // (8 * vmax))
    # zigzag-order coefficient store per component, MCU-padded grid
    coefs = [
        np.zeros((mcu_rows * v_i, mcu_cols * h_i, 64), dtype=np.int32)
        for (_, _, h_i, v_i) in comps
    ]
    # non-interleaved (single-component scan) block-grid dims:
    # ceil(ceil(dim * sampling / max_sampling) / 8)   (T.81 A.1.1 / A.2.2)
    nb = [
        (-(-(-(-(h * v_i) // vmax)) // 8), -(-(-(-(w * h_i) // hmax)) // 8))
        for (_, _, h_i, v_i) in comps
    ]

    for scan_comps, ss, se, ah, al, data in scans:
        reader = _ScanReader(data)
        pred = [0] * len(comps)
        eobrun = 0
        if ss == 0 and se not in (0, 63):
            raise ValueError("bad spectral selection for DC/sequential scan")
        if ss == 0:
            # sequential full-band or progressive DC scan: interleaved MCU
            # order over the scan's components (single-comp scans use the
            # component's own non-interleaved grid per A.2.2)
            single = len(scan_comps) == 1
            if single:
                ci0 = scan_comps[0][0]
                rows, cols = nb[ci0]
                units = rows * cols
            else:
                units = mcu_rows * mcu_cols
            for u in range(units):
                if dri and u and u % dri == 0:
                    reader.restart()
                    pred = [0] * len(comps)
                    eobrun = 0
                for ci, dc_id, ac_id in scan_comps:
                    _, tq, h_i, v_i = comps[ci]
                    if single:
                        blocks = [(u // nb[ci][1], u % nb[ci][1])]
                    else:
                        my, mx = u // mcu_cols, u % mcu_cols
                        blocks = [
                            (my * v_i + by, mx * h_i + bx)
                            for by in range(v_i)
                            for bx in range(h_i)
                        ]
                    for by, bx in blocks:
                        coef = coefs[ci][by, bx]
                        if not progressive:
                            _seq_block(
                                reader, coef, huff[(0, dc_id)], huff[(1, ac_id)],
                                pred, ci,
                            )
                        elif ah == 0:
                            _dc_first_block(reader, coef, huff[(0, dc_id)], pred, ci, al)
                        else:
                            _dc_refine_block(reader, coef, al)
        else:
            # progressive AC scan: always single-component, non-interleaved
            if len(scan_comps) != 1:
                raise ValueError("progressive AC scan must be single-component")
            ci, _, ac_id = scan_comps[0]
            ac_tab = huff[(1, ac_id)]
            rows, cols = nb[ci]
            for u in range(rows * cols):
                if dri and u and u % dri == 0:
                    reader.restart()
                    eobrun = 0
                coef = coefs[ci][u // cols, u % cols]
                if ah == 0:
                    eobrun = _ac_first_block(reader, coef, ac_tab, ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_block(reader, coef, ac_tab, ss, se, al, eobrun)

    # dequantize + IDCT, vectorized over every block of every component
    full = []
    for (cid, tq, h_i, v_i), cf in zip(comps, coefs):
        bv, bh = cf.shape[:2]
        blocks = np.zeros((bv, bh, 64), dtype=np.float64)
        blocks[..., ZIGZAG] = cf.astype(np.float64)
        blocks = blocks.reshape(bv, bh, 8, 8) * quant[tq]
        px = np.einsum("ij,abjk,kl->abil", DCT_T.T, blocks, DCT_T) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(bv * 8, bh * 8)
        if v_i != vmax:
            plane = np.repeat(plane, vmax // v_i, axis=0)
        if h_i != hmax:
            plane = np.repeat(plane, hmax // h_i, axis=1)
        full.append(plane[:h, :w])
    if len(comps) == 1:
        return np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    ycc = np.stack(full, axis=-1)
    return _ycbcr_to_rgb(ycc)
