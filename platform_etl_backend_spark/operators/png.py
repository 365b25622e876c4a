"""PNG (ISO 15948 / RFC 2083, public spec) in stdlib zlib + numpy — no PIL.

Replaces the ``NotImplementedError`` stub for the ``png`` format in
``decode_media``. PNG needed no external codec after all: DEFLATE is in the
Python standard library (``zlib``), and the rest of the format — chunk
framing with CRC32, scanline filters — is small, exactly specified, and
LOSSLESS, so round-trips are byte-exact (even stronger than the JPEG
codec's bounded-error guarantee; oracle pairing can predict exact values).

Scope:
- bit depths 8 and 16 (16-bit samples are big-endian per spec and decode
  to uint16); color types 0 (grayscale), 2 (RGB), 3 (palette + PLTE),
  4 (gray+alpha), 6 (RGBA).
- interlace 0 (sequential) AND 1 (Adam7): each of the seven passes is an
  independently-filtered sub-image — empty passes contribute zero bytes
  (not even filter bytes), per spec. The encoder can emit either layout.
- All five scanline filters (None/Sub/Up/Average/Paeth) on decode; the
  encoder emits filter 0 for deterministic output. Filters operate on
  BYTES with bpp = channels * depth/8 regardless of sample width (spec
  §6.2), so one unfilter routine serves both depths.
- Sub-byte depths (1/2/4) and ancillary color management still raise
  ``NotImplementedError`` honestly.

Like the other codecs this is a per-payload kernel for Arrow-batched
``mapInPandas`` stages; the scanline unfilter is a per-row loop (Sub/Paeth
carry an intra-row dependency, which is inherent to the format).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _plane_shape(px: np.ndarray) -> tuple[int, int, int, int]:
    """(h, w, channels, color_type) from an array shape."""
    if px.ndim == 2:
        return px.shape[0], px.shape[1], 1, 0
    if px.ndim == 3 and px.shape[2] in (2, 3, 4):
        color = {2: 4, 3: 2, 4: 6}[px.shape[2]]
        return px.shape[0], px.shape[1], px.shape[2], color
    raise ValueError(f"expected (H,W) / (H,W,2|3|4), got {px.shape}")


def _sample_bytes(px: np.ndarray, h: int, w: int, ch: int) -> np.ndarray:
    """Rows of raw sample bytes, big-endian for 16-bit."""
    if px.dtype == np.uint16:
        return px.reshape(h, w * ch).astype(">u2").view(np.uint8).reshape(h, -1)
    return px.reshape(h, w * ch)


def encode_png(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """uint8/uint16 array → PNG. (H, W) → grayscale, (H, W, 2) →
    gray+alpha, (H, W, 3) → RGB, (H, W, 4) → RGBA. Filter 0 on every
    scanline (deterministic output); ``interlace=True`` emits Adam7."""
    px = np.asarray(pixels)
    if px.dtype not in (np.uint8, np.uint16):
        px = px.astype(np.uint8)
    depth = 16 if px.dtype == np.uint16 else 8
    h, w, ch, color = _plane_shape(px)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0)
    if not interlace:
        raw = _sample_bytes(px, h, w, ch)
        scanlines = b"".join(b"\x00" + row.tobytes() for row in raw)
    else:
        px3 = px.reshape(h, w, ch)
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = px3[y0::dy, x0::dx]
            ph, pw = sub.shape[0], sub.shape[1]
            if ph == 0 or pw == 0:
                continue  # empty pass: zero bytes, no filter bytes
            rows = _sample_bytes(np.ascontiguousarray(sub), ph, pw, ch)
            parts.append(b"".join(b"\x00" + row.tobytes() for row in rows))
        scanlines = b"".join(parts)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(scanlines, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter_at(data: bytes, pos: int, h: int, stride: int, bpp: int) -> tuple[np.ndarray, int]:
    """Unfilter ``h`` scanlines of ``stride`` bytes starting at ``pos``;
    returns (rows, next_pos). Filters are bytewise with the spec's bpp."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        if pos >= len(data):
            raise ValueError("scanline data truncated")
        ftype = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + stride])
        if len(row) != stride:
            raise ValueError("scanline data truncated")
        pos += 1 + stride
        if ftype == 0:
            cur = np.frombuffer(bytes(row), dtype=np.uint8).copy()
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
            cur = np.frombuffer(bytes(row), dtype=np.uint8).copy()
        elif ftype == 2:  # Up
            cur = (np.frombuffer(bytes(row), dtype=np.uint8) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + int(prev[i])) >> 1)) & 0xFF
            cur = np.frombuffer(bytes(row), dtype=np.uint8).copy()
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                ul = int(prev[i - bpp]) if i >= bpp else 0
                row[i] = (row[i] + _paeth(left, int(prev[i]), ul)) & 0xFF
            cur = np.frombuffer(bytes(row), dtype=np.uint8).copy()
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    return out, pos


def _bytes_to_samples(rows: np.ndarray, h: int, w: int, ch: int, depth: int) -> np.ndarray:
    """(h, w*bpp) filter-decoded bytes → (h, w, ch) uint8/uint16 samples."""
    if depth == 16:
        return rows.reshape(h, -1).view(">u2").astype(np.uint16).reshape(h, w, ch)
    return rows.reshape(h, w, ch)


def decode_png(payload: bytes) -> np.ndarray:
    """PNG → array: (H, W) for grayscale, (H, W, 2|3|4) for
    gray+alpha/RGB(also palette)/RGBA; dtype uint16 for 16-bit images.
    CRC-checked chunk framing; all 5 filters; sequential and Adam7."""
    if payload[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth not in (8, 16):
                raise NotImplementedError("only bit depths 8 and 16 supported")
            if color not in _CHANNELS:
                raise NotImplementedError(f"color type {color} not supported")
            if color == 3 and depth == 16:
                raise ValueError("palette images cannot be 16-bit (spec 11.2.2)")
            if interlace not in (0, 1):
                raise ValueError(f"invalid interlace method {interlace}")
            if comp != 0 or filt != 0:
                raise ValueError("invalid compression/filter method")
            ihdr = (w, h, depth, color, interlace)
        elif tag == b"PLTE":
            if length % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    w, h, depth, color, interlace = ihdr
    ch = _CHANNELS[color]
    bpp = ch * (depth // 8)
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        rows, end = _unfilter_at(raw, 0, h, w * bpp, bpp)
        if end != len(raw):
            raise ValueError("scanline data length mismatch")
        px = _bytes_to_samples(rows, h, w, ch, depth)
    else:
        px = np.zeros((h, w, bpp), dtype=np.uint8)
        at = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub, at = _unfilter_at(raw, at, ph, pw * bpp, bpp)
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
        if at != len(raw):
            raise ValueError("scanline data length mismatch")
        px = _bytes_to_samples(px.reshape(h, w * bpp), h, w, ch, depth)
    if color == 0:
        return px.reshape(h, w)
    if color == 3:
        if plte is None:
            raise ValueError("palette image without PLTE chunk")
        return plte[px.reshape(h, w)]
    return px.reshape(h, w, ch)
