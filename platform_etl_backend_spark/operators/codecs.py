"""Real media codecs in pure numpy — no external image/audio libraries.

The container has no PIL/libav, but two public formats are simple enough to
decode from first principles, which upgrades the multimodal plumbing from
"stub decode" to "real decode" for those formats:

- **PPM (P6)** — the netpbm binary RGB image format: ASCII header
  ``P6 <width> <height> <maxval>`` (whitespace-separated, ``#`` comments)
  followed by ``height*width*3`` raw bytes (maxval ≤ 255).
- **WAV (RIFF/WAVE, PCM16)** — canonical RIFF container: ``fmt `` chunk
  (PCM format tag 1, 16-bit) + ``data`` chunk of little-endian int16
  samples.

JPEG decodes for REAL — from first principles in ``operators/jpeg.py``
(numpy DCT + canonical Huffman; baseline sequential incl. 4:2:0 AND
progressive SOF2 with successive approximation, restart intervals in both
modes) — and so does PNG (``operators/png.py``: stdlib zlib DEFLATE + all
five scanline filters + palette; lossless, so roundtrips are byte-exact).
MP3 frame-HEADER walking is real struct math (``mp3_frame_walk`` below);
formats that genuinely need external libraries (MP3 audio synthesis,
H.264) still raise ``NotImplementedError`` via ``decode_media`` — honest
stubs, per the repo's no-fake-decodes rule.

Everything here is deterministic and byte-exact, so decode paths can be
oracle-paired: a catalog query ENCODES payloads from known bytes Spark-side,
DECODES them through these parsers inside ``mapInPandas``, and DuckDB
recomputes the expected features from the same source bytes without ever
seeing the container format.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------


def _read_header_token(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Next whitespace-delimited header token, skipping '#' comments."""
    n = len(buf)
    while pos < n:
        c = buf[pos : pos + 1]
        if c == b"#":
            while pos < n and buf[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            break
    start = pos
    while pos < n and not buf[pos : pos + 1].isspace():
        pos += 1
    if start == pos:
        raise ValueError("truncated PPM header")
    return buf[start:pos], pos


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → (H, W, 3) uint8 pixel array."""
    magic, pos = _read_header_token(payload, 0)
    if magic != b"P6":
        raise ValueError(f"not a P6 PPM (magic={magic!r})")
    w_tok, pos = _read_header_token(payload, pos)
    h_tok, pos = _read_header_token(payload, pos)
    maxval_tok, pos = _read_header_token(payload, pos)
    w, h, maxval = int(w_tok), int(h_tok), int(maxval_tok)
    if not (0 < maxval <= 255):
        raise ValueError(f"unsupported maxval {maxval}")
    pos += 1  # exactly one whitespace byte after maxval per the spec
    need = h * w * 3
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError(f"truncated raster: need {need}, have {len(raster)}")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def image_features(pixels: np.ndarray) -> dict[str, float]:
    """Per-channel means (IEEE double; exact int sums divided once)."""
    h, w, _ = pixels.shape
    flat = pixels.reshape(-1, 3).astype(np.int64)
    n = h * w
    return {
        "mean_r": float(flat[:, 0].sum()) / n,
        "mean_g": float(flat[:, 1].sum()) / n,
        "mean_b": float(flat[:, 2].sum()) / n,
    }


# ---------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM 16-bit)
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 mono sample array → canonical RIFF/WAVE with one fmt + data
    chunk."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """RIFF/WAVE PCM16 → (sample_rate, channels, int16 samples)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    sample_rate = channels = None
    samples = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            tag, channels, sample_rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if tag != 1 or bits != 16:
                raise ValueError(f"only PCM16 supported (tag={tag}, bits={bits})")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if sample_rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return sample_rate, channels, samples


def audio_features(samples: np.ndarray) -> dict[str, float]:
    """RMS and strict zero crossings (prev*cur < 0) in IEEE double."""
    s = samples.astype(np.int64)
    n = len(s)
    rms = float(np.sqrt(float((s * s).sum()) / n)) if n else 0.0
    zc = int(((s[:-1] * s[1:]) < 0).sum()) if n > 1 else 0
    return {"n_samples": n, "rms": rms, "zero_crossings": zc}


# ---------------------------------------------------------------------------
# BMP (Windows DIB, BITMAPINFOHEADER — public spec). Uncompressed 24-bit
# BGR, bottom-up row order, rows padded to 4-byte boundaries: trivial but
# REAL — the format data-lake image dumps actually contain alongside
# PNG/JPEG.
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP -> (H, W, 3) uint8 RGB. Handles positive
    (bottom-up) and negative (top-down) heights."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP (bad signature)")
    if len(payload) < 54:
        raise ValueError("truncated BMP header")
    (_, _fsize, _, _, data_offset) = struct.unpack("<2sIHHI", payload[:14])
    (hdr_size, w, h, planes, bpp, comp) = struct.unpack("<IiiHHI", payload[14:34])
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
    if comp != 0:
        raise NotImplementedError(f"compressed BMP (method {comp}) not supported")
    if bpp != 24:
        raise NotImplementedError(f"{bpp}-bit BMP not supported (24-bit only)")
    if planes != 1 or w <= 0 or h == 0:
        raise ValueError("invalid BMP dimensions")
    top_down = h < 0
    h = abs(h)
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    need = data_offset + stride * h
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload[data_offset : data_offset + stride * h], dtype=np.uint8
    ).reshape(h, stride)[:, :row_bytes]
    img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR->RGB
    return img if top_down else img[::-1]


# ---------------------------------------------------------------------------
# Dispatch
# ---------------------------------------------------------------------------


def decode_media(payload: bytes, fmt: str):
    """Decode a payload by declared format; real codecs where pure-numpy
    parsing is possible, honest NotImplementedError where a library is
    genuinely required."""
    if fmt == "ppm":
        return decode_ppm(payload)
    if fmt == "wav":
        return decode_wav(payload)
    if fmt == "jpeg":
        # baseline-sequential 4:4:4 JPEG from first principles (numpy DCT +
        # canonical Huffman) — see operators/jpeg.py
        from platform_etl_backend_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if fmt == "png":
        # stdlib zlib + numpy scanline filters — see operators/png.py
        from platform_etl_backend_spark.operators.png import decode_png

        return decode_png(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt == "gif":
        # real LZW (variable-width codes, dict growth/reset) + GIF container
        from platform_etl_backend_spark.operators.gif import decode_gif

        return decode_gif(payload)
    raise NotImplementedError(
        f"format {fmt!r} needs an external codec library (PIL/libav), "
        "not present in this environment"
    )


# --- MP3 (MPEG-1 Audio Layer III) frame walking -----------------------------
# Pure struct math over the public header format (ISO/IEC 11172-3): the
# frame-header walk — sync validation, bitrate/samplerate table lookups,
# frame-length arithmetic, ID3v2 skip — needs no DSP library and is the
# part a 100 TB audio-corpus pipeline actually runs at scan time (duration
# and bitrate bookkeeping before any sample is decoded). Decoding Layer
# III AUDIO (huffman spectral data, IMDCT, polyphase filterbank) stays an
# honest NotImplementedError in decode_media.

MP3_BITRATES_V1L3 = (  # kbps by header index, MPEG-1 Layer III (index 0=free, 15=bad)
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
MP3_SAMPLE_RATES_V1 = (44100, 48000, 32000)  # by header index (3 = reserved)
MP3_SAMPLES_PER_FRAME_V1L3 = 1152


def mp3_frame_size(bitrate_kbps: int, sample_rate: int, padding: int) -> int:
    """Layer III MPEG-1 frame length in bytes: 144 * bitrate / samplerate
    + padding (integer floor — the spec's formula)."""
    return 144 * bitrate_kbps * 1000 // sample_rate + padding


def build_mp3_cbr(
    n_frames: int, bitrate_kbps: int, id3_pad: int = 0
) -> bytes:
    """Synthesize a structurally-valid CBR stream: real headers, zeroed
    main data (silence placeholder — audio synthesis is out of scope).
    Optional ID3v2 tag prefix with a synchsafe size of ``id3_pad``."""
    br_idx = MP3_BITRATES_V1L3.index(bitrate_kbps)
    sr_idx = MP3_SAMPLE_RATES_V1.index(44100)
    hdr = bytes(
        [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0x00]  # MPEG1, L3, no CRC, stereo
    )
    frame = hdr + b"\x00" * (mp3_frame_size(bitrate_kbps, 44100, 0) - 4)
    out = b""
    if id3_pad:
        out += b"ID3\x04\x00\x00" + bytes(
            [(id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
             (id3_pad >> 7) & 0x7F, id3_pad & 0x7F]
        ) + b"\x00" * id3_pad
    return out + frame * n_frames


def mp3_frame_walk(payload: bytes) -> dict[str, int]:
    """Walk every frame header: skip an ID3v2 tag if present, then
    repeatedly validate the 11-bit sync + table indices, look up bitrate/
    samplerate, and hop by the computed frame length. The stream must
    consist of whole frames (a truncated tail raises). Returns
    n_frames, bitrate_kbps (-1 when frames disagree — VBR), sample_rate,
    total_samples, payload_bytes (frame bytes excl. the ID3 tag)."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 header")
        size = (
            ((payload[6] & 0x7F) << 21) | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7) | (payload[9] & 0x7F)
        )
        pos = 10 + size
    start = pos
    n_frames = 0
    bitrates: set[int] = set()
    sample_rate = None
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated frame header")
        b0, b1, b2, _ = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise ValueError(f"lost sync at byte {pos}")
        if (b1 & 0x18) != 0x18 or (b1 & 0x06) != 0x02:
            raise NotImplementedError("only MPEG-1 Layer III frame walk supported")
        br_idx = (b2 >> 4) & 0x0F
        sr_idx = (b2 >> 2) & 0x03
        padding = (b2 >> 1) & 0x01
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError(f"bad bitrate/samplerate index at byte {pos}")
        br = MP3_BITRATES_V1L3[br_idx]
        sr = MP3_SAMPLE_RATES_V1[sr_idx]
        if sample_rate is None:
            sample_rate = sr
        elif sr != sample_rate:
            raise ValueError("sample-rate change mid-stream")
        size = mp3_frame_size(br, sr, padding)
        if pos + size > len(payload):
            raise ValueError(f"truncated frame at byte {pos}")
        bitrates.add(br)
        n_frames += 1
        pos += size
    if n_frames == 0:
        raise ValueError("no MP3 frames found")
    return {
        "n_frames": n_frames,
        "bitrate_kbps": bitrates.pop() if len(bitrates) == 1 else -1,
        "sample_rate": sample_rate,
        "total_samples": n_frames * MP3_SAMPLES_PER_FRAME_V1L3,
        "payload_bytes": pos - start,
    }


# --- ISO BMFF (MP4) box structure --------------------------------------------

# Public format: ISO/IEC 14496-12 box = [size:4 BE][type:4][payload],
# size==1 -> 64-bit largesize follows the type, size==0 -> box extends to
# the end of the enclosing container. Container boxes nest child boxes.
_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"udta"}
_MP4_UNITY_MATRIX = (
    b"\x00\x01\x00\x00" + b"\x00" * 4 * 3
    + b"\x00\x01\x00\x00" + b"\x00" * 4 * 3
    + b"\x40\x00\x00\x00"
)


def _mp4_box(btype: bytes, payload: bytes, largesize: bool = False) -> bytes:
    import struct

    if largesize:
        return (
            struct.pack(">I", 1) + btype
            + struct.pack(">Q", 16 + len(payload)) + payload
        )
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def mp4_mvhd_payload(timescale: int, duration: int) -> bytes:
    """MovieHeaderBox v0 payload (100 bytes, spec field order)."""
    import struct

    return (
        b"\x00\x00\x00\x00"                       # version/flags
        + struct.pack(">II", 0, 0)                 # ctime/mtime
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)            # rate 1.0
        + struct.pack(">H", 0x0100)                # volume 1.0
        + b"\x00" * 10                             # reserved
        + _MP4_UNITY_MATRIX
        + b"\x00" * 24                             # pre_defined
        + struct.pack(">I", 2)                     # next_track_ID
    )


def mp4_tkhd_payload(duration: int, width: int, height: int) -> bytes:
    """TrackHeaderBox v0 payload (84 bytes); width/height 16.16 fixed."""
    import struct

    return (
        b"\x00\x00\x00\x07"                        # v0, enabled|in_movie|preview
        + struct.pack(">II", 0, 0)                 # ctime/mtime
        + struct.pack(">I", 1)                     # track_ID
        + b"\x00" * 4
        + struct.pack(">I", duration)
        + b"\x00" * 8
        + struct.pack(">hhH", 0, 0, 0)             # layer/alt_group/volume
        + b"\x00" * 2
        + _MP4_UNITY_MATRIX
        + struct.pack(">II", width << 16, height << 16)
    )


def mp4_box_walk(payload: bytes) -> dict:
    """Walk the full ISO BMFF box tree: validates every size field against
    the enclosing container, handles 64-bit largesize (size==1) and
    to-end-of-container (size==0) boxes, recurses into container types,
    and extracts ftyp brand, mvhd timescale/duration, tkhd pixel
    dimensions, and mdat payload length. Raises on truncation or a size
    smaller than its own header — garbage never parses silently."""
    boxes: list[tuple[int, str]] = []
    info = {
        "brand": "", "timescale": 0, "duration": 0,
        "width": 0, "height": 0, "mdat_bytes": 0,
    }

    def walk(buf: bytes, depth: int) -> None:
        pos = 0
        while pos < len(buf):
            if len(buf) - pos < 8:
                raise ValueError("truncated box header")
            size = int.from_bytes(buf[pos:pos + 4], "big")
            btype = buf[pos + 4:pos + 8]
            hdr = 8
            if size == 1:
                if len(buf) - pos < 16:
                    raise ValueError("truncated largesize")
                size = int.from_bytes(buf[pos + 8:pos + 16], "big")
                hdr = 16
            elif size == 0:
                size = len(buf) - pos
            if size < hdr or pos + size > len(buf):
                raise ValueError(f"bad box size {size} at {pos}")
            boxes.append((depth, btype.decode("latin1")))
            body = buf[pos + hdr:pos + size]
            if btype in _MP4_CONTAINERS:
                walk(body, depth + 1)
            elif btype == b"ftyp":
                info["brand"] = body[:4].decode("latin1")
            elif btype == b"mvhd":
                info["timescale"] = int.from_bytes(body[12:16], "big")
                info["duration"] = int.from_bytes(body[16:20], "big")
            elif btype == b"tkhd":
                info["width"] = int.from_bytes(body[76:80], "big") >> 16
                info["height"] = int.from_bytes(body[80:84], "big") >> 16
            elif btype == b"mdat":
                info["mdat_bytes"] = len(body)
            pos += size

    walk(payload, 0)
    info["n_boxes"] = len(boxes)
    info["top_types"] = "|".join(t for d, t in boxes if d == 0)
    return info
