"""Multimodal column plumbing: images/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Two decode tiers:
- REAL codecs for formats parseable without external libraries (PPM images,
  RIFF/WAVE PCM16 audio — ``operators/codecs.py``; baseline JPEG —
  ``operators/jpeg.py``; PNG — ``operators/png.py``):
  ``image_decode_features``, ``audio_roundtrip_features``,
  ``jpeg_roundtrip_features``, and ``png_roundtrip_features`` genuinely
  parse the containers.
- STUB for library-bound formats (MP3/video SAMPLE decode): ``_decode_impl``
  derives deterministic pseudo-pixels from the payload hash so the
  Spark-side plumbing — schema, batching, partitioning, UDF signature — is
  real and testable; ``codecs.decode_media`` raises honestly for those
  formats.
  MP3 frame-HEADER walking (``mp3_stats``) is real — pure struct math over
  the public ISO 11172-3 header format; only Layer III audio synthesis
  remains library-bound.

Scale notes: binary payloads ride in parquet as BYTE_ARRAY; mapInPandas
processes Arrow record batches (no per-row pickling); feature vectors come
back as array<float> ready for the similarity operators.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, data binary, "
    "meta struct<format: string, width: int, height: int, n_frames: int>"
)

FEATURE_DIM = 16


def attach_media_meta(df: DataFrame, data_col: str) -> DataFrame:
    """Wrap a binary column with typed metadata derived from the payload."""
    data = F.col(data_col)
    return df.withColumn(
        "meta",
        F.struct(
            F.lit("fake").alias("format"),
            (F.length(data) % 64 + 1).cast("int").alias("width"),
            (F.length(data) % 48 + 1).cast("int").alias("height"),
            (F.length(data) % 8 + 1).cast("int").alias("n_frames"),
        ),
    )


def _decode_impl(payload: bytes, dtype=np.float32) -> np.ndarray:
    """STUB decoder: deterministic pseudo-pixels from the payload digest.

    Production implementations plug PIL/torchvision/libav here; everything
    around this function (batching, schema, partitioning) is real.
    """
    digest = hashlib.sha256(payload).digest()
    rng = np.frombuffer(digest, dtype=np.uint8).astype(dtype)
    return np.resize(rng, FEATURE_DIM) / dtype(255.0)


def decode_features(
    df: DataFrame, id_col: str, data_col: str, dtype: str = "float"
) -> DataFrame:
    """binary → array<float|double> feature vectors via Arrow-batched
    mapInPandas. ``dtype='float'`` is the production shape (fp32 vectors);
    ``'double'`` makes the stub's arithmetic bit-identical to any engine
    computing byte/255 in IEEE double (used by the oracle-paired catalog
    query — fp32 and fp64 round differently at 6 d.p. for 3 of 256 byte
    values, so cross-engine checks need the double path)."""

    np_dtype = {"float": np.float32, "double": np.float64}[dtype]
    schema = f"{id_col} bigint, features array<{dtype}>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_impl(bytes(b), np_dtype) if b is not None else None
                for b in pdf[data_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.select(id_col, data_col).mapInPandas(batches, schema)


def frame_sample(df: DataFrame, id_col: str, data_col: str) -> DataFrame:
    """Video-style frame sampling plumbing: explode per-frame slices of the
    payload (stub: fixed-width byte windows), keeping every 2nd."""
    data = F.col(data_col)
    n_frames = (F.length(data) % 8 + 1).cast("int")
    idx = F.sequence(F.lit(0), n_frames - 1)
    sampled = F.filter(idx, lambda i: i % 2 == 0)
    frames = F.transform(
        sampled,
        lambda i: F.struct(
            i.alias("frame_no"),
            F.substring(data, i * 16 + 1, 16).alias("frame_bytes"),
        ),
    )
    return df.select(
        id_col, F.explode(frames).alias("frame")
    ).select(id_col, "frame.frame_no", "frame.frame_bytes")


def jpeg_roundtrip_features(
    df: DataFrame,
    id_col: str,
    progressive: bool = False,
    restart_interval: int = 0,
) -> DataFrame:
    """REAL JPEG codec exercise via ``mapInPandas``: build a smooth
    grayscale plane from each id (base = id mod 128, +row +col gradient),
    encode it with the pure-numpy baseline JPEG encoder (FDCT + canonical
    Huffman, operators/jpeg.py), decode it back through the marker/DHT/DQT
    parser, and emit dimensions plus an ``ok`` flag asserting the decoded
    plane is within 3 of the source everywhere. The oracle
    predicts (width, height, TRUE) from the spec guarantee — any bug in
    either direction (marker framing, Huffman tables, zigzag, quant, IDCT)
    breaks the roundtrip bound and flips the hash.

    With ``progressive``/``restart_interval`` set, the encode runs through
    the SOF2 scan script (spectral selection + successive approximation)
    and/or DRI+RSTn framing, and ``ok`` ADDITIONALLY requires the decoded
    plane to equal the plain-baseline decode EXACTLY — progressive coding
    transmits the same quantized coefficients, so any refinement-bit or
    EOB-run bug breaks exact equality even when the loose error bound
    would still pass."""
    from platform_etl_backend_spark.operators import jpeg as J

    # The plane is a pure function of id mod 128 (uint8 base wraps there),
    # so the codec — the only expensive stage — runs ONCE per distinct
    # residue and the results broadcast-join back to the id frame (the
    # decide-with-small-rows pattern, guide §8; at sf0.1 the corpus hits
    # each residue ~8-40x and the python kernel cost was pure repetition).
    # The explicit partition count (128 = the residue space, a constant of
    # the kernel, not of the cluster) spreads the <=128 single-plane tasks
    # so AQE's size-based coalescing cannot serialize the python work into
    # one partition; every run recomputes from the id frame — nothing is
    # memoized across runs.
    schema = "pkey int, width int, height int, ok boolean"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = np.arange(24).reshape(-1, 1)
        c = np.arange(16).reshape(1, -1)
        for pdf in it:
            rows = []
            for pkey in pdf["pkey"]:
                img = (int(pkey) + r + c).astype(np.uint8)
                out = J.decode_jpeg(
                    J.encode_jpeg(
                        img, 90,
                        progressive=progressive,
                        restart_interval=restart_interval,
                    )
                )
                ok = out.shape == (24, 16) and int(
                    np.abs(out.astype(np.int64) - img.astype(np.int64)).max()
                ) <= 3
                if ok and (progressive or restart_interval):
                    base = J.decode_jpeg(J.encode_jpeg(img, 90))
                    ok = bool(np.array_equal(out, base))
                rows.append((int(pkey), 16, 24, bool(ok)))
            yield pd.DataFrame(rows, columns=["pkey", "width", "height", "ok"])

    ids = df.select(id_col, (F.col(id_col) % 128).cast("int").alias("pkey"))
    feats = (
        ids.select("pkey").distinct().repartition(128, "pkey")
        .mapInPandas(batches, schema)
    )
    return ids.join(F.broadcast(feats), "pkey").select(
        id_col, "width", "height", "ok"
    )


def image_decode_features(
    df: DataFrame, id_col: str, ppm_col: str, fmt: str = "ppm"
) -> DataFrame:
    """REAL image decode via Arrow-batched ``mapInPandas``: parse each binary
    image payload (``fmt``: ppm/bmp/png/jpeg — any real codec behind
    ``decode_media``) and emit dimensions + per-channel means. The decode is
    genuine — a mis-parsed header offset would shift every pixel and break
    the oracle pairing. Means come back raw (IEEE double); callers round at
    the SQL layer per the cross-engine conventions."""
    from platform_etl_backend_spark.operators import codecs

    schema = f"{id_col} bigint, width int, height int, mean_r double, mean_g double, mean_b double"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[ppm_col]):
                px = codecs.decode_media(bytes(payload), fmt)
                feats = codecs.image_features(px)
                rows.append(
                    (mid, px.shape[1], px.shape[0],
                     feats["mean_r"], feats["mean_g"], feats["mean_b"])
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "width", "height", "mean_r", "mean_g", "mean_b"]
            )

    return df.select(id_col, ppm_col).mapInPandas(batches, schema)


def audio_roundtrip_features(
    df: DataFrame, id_col: str, pcm_col: str
) -> DataFrame:
    """REAL audio codec exercise via ``mapInPandas``: raw byte payloads →
    int16 samples ((byte-128)*256) → encode to a canonical RIFF/WAVE →
    decode back through the chunk parser → RMS / zero-crossing features.
    The encode+decode round-trip runs inside the stage because Catalyst
    cannot pack little-endian int16; a parser bug (chunk offsets, fmt
    fields) would corrupt the samples and break the oracle pairing."""
    from platform_etl_backend_spark.operators import codecs

    schema = f"{id_col} bigint, n_samples bigint, rms double, zero_crossings bigint"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[pcm_col]):
                raw = np.frombuffer(bytes(payload), dtype=np.uint8)
                samples = ((raw.astype(np.int32) - 128) * 256).astype(np.int16)
                wav = codecs.encode_wav(samples, sample_rate=8000)
                sr, ch, decoded = codecs.decode_wav(wav)
                assert sr == 8000 and ch == 1
                feats = codecs.audio_features(decoded)
                rows.append(
                    (mid, feats["n_samples"], feats["rms"], feats["zero_crossings"])
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "n_samples", "rms", "zero_crossings"]
            )

    return df.select(id_col, pcm_col).mapInPandas(batches, schema)


def png_roundtrip_features(df: DataFrame, id_col: str, data_col: str) -> DataFrame:
    """REAL PNG codec exercise via ``mapInPandas``: raw payload bytes →
    8x4 RGB pixel plane → encode to PNG (stdlib zlib DEFLATE + CRC-framed
    chunks, operators/png.py) → decode back through the chunk/filter
    parser → channel means. PNG is LOSSLESS, so unlike the JPEG roundtrip
    the oracle predicts the EXACT means from the source bytes — any
    framing/CRC/filter/inflate bug shifts a byte and breaks the hashes."""
    from platform_etl_backend_spark.operators import png as P

    schema = f"{id_col} bigint, width int, height int, mean_r double, mean_g double, mean_b double"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[data_col]):
                raw = np.frombuffer(bytes(payload)[:96], dtype=np.uint8)
                img = raw.reshape(4, 8, 3)
                out = P.decode_png(P.encode_png(img))
                assert out.shape == img.shape and (out == img).all()
                flat = out.reshape(-1, 3).astype(np.int64)
                n = flat.shape[0]
                rows.append(
                    (mid, 8, 4,
                     float(flat[:, 0].sum()) / n,
                     float(flat[:, 1].sum()) / n,
                     float(flat[:, 2].sum()) / n)
                )
            yield pd.DataFrame(
                rows, columns=[id_col, "width", "height", "mean_r", "mean_g", "mean_b"]
            )

    return df.select(id_col, data_col).mapInPandas(batches, schema)


def mp3_stats(df: DataFrame, id_col: str, mp3_col: str) -> DataFrame:
    """REAL MP3 frame-header walk via Arrow-batched ``mapInPandas``: sync
    validation, bitrate/samplerate table lookups, ID3v2 skip, frame-length
    hops (operators/codecs.py mp3_frame_walk — pure struct math over the
    public ISO 11172-3 header format). This is the scan-time bookkeeping an
    audio corpus pipeline runs before any sample is decoded; Layer III
    audio DECODE stays an honest NotImplementedError (DSP-library-bound).
    Zero-shuffle plan: select + mapInPandas only."""
    from platform_etl_backend_spark.operators import codecs

    schema = (
        f"{id_col} bigint, n_frames int, bitrate_kbps int, sample_rate int, "
        "total_samples bigint, payload_bytes bigint"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[mp3_col]):
                s = codecs.mp3_frame_walk(bytes(payload))
                rows.append(
                    (mid, s["n_frames"], s["bitrate_kbps"], s["sample_rate"],
                     s["total_samples"], s["payload_bytes"])
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_frames", "bitrate_kbps", "sample_rate",
                         "total_samples", "payload_bytes"],
            )

    return df.select(id_col, mp3_col).mapInPandas(batches, schema)


def mp4_stats(df: DataFrame, id_col: str, mp4_col: str) -> DataFrame:
    """REAL ISO BMFF (MP4) box-tree walk via Arrow-batched ``mapInPandas``
    (operators/codecs.py mp4_box_walk — pure struct math over the public
    ISO/IEC 14496-12 box format, incl. 64-bit largesize and
    to-end-of-container sizes, recursing through container boxes). The
    scan-time inventory a video corpus pipeline runs before any sample is
    decoded; media SAMPLE decode stays an honest NotImplementedError
    (codec-library-bound). Zero-shuffle plan: select + mapInPandas only."""
    from platform_etl_backend_spark.operators import codecs

    schema = (
        f"{id_col} bigint, n_boxes int, top_types string, brand string, "
        "timescale int, duration bigint, width int, height int, mdat_bytes bigint"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[mp4_col]):
                s = codecs.mp4_box_walk(bytes(payload))
                rows.append(
                    (mid, s["n_boxes"], s["top_types"], s["brand"],
                     s["timescale"], s["duration"], s["width"], s["height"],
                     s["mdat_bytes"])
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_boxes", "top_types", "brand", "timescale",
                         "duration", "width", "height", "mdat_bytes"],
            )

    return df.select(id_col, mp4_col).mapInPandas(batches, schema)
