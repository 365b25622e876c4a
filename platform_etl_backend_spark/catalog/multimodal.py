"""Multimodal-column queries with REAL oracles: the binary payloads are
built from ``documents.text`` bytes (pure printable ASCII in the testdata,
so byte-wise binary ops in Spark equal char-wise string ops in DuckDB),
which lets the media plumbing — typed metadata, frame sampling, Arrow-
batched decode — be hash-checked cross-engine instead of rows-only.

``q_multimodal_features`` is the notable one: a ``mapInPandas`` (Python)
stage whose output still hash-matches an ANSI-SQL oracle, because the stub
decode is sha256-derived and computed in IEEE double on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from platform_etl_backend_spark.catalog.registry import register, table
from platform_etl_backend_spark.operators import multimodal as MM

_HEX = "0123456789abcdef"


def _byte_expr(hexcol: str, j: int) -> str:
    """DuckDB: byte j of a hex digest string as an integer."""
    hi = f"(strpos('{_HEX}', substr({hexcol}, {2 * j + 1}, 1)) - 1)"
    lo = f"(strpos('{_HEX}', substr({hexcol}, {2 * j + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


@register(
    "q_multimodal_frames",
    oracle="""
    WITH m AS (
      SELECT doc_id, text, length(text) % 8 + 1 AS n_frames FROM documents),
    f AS (
      SELECT doc_id, n_frames,
             unnest(list_filter(range(0, n_frames), i -> i % 2 = 0)) AS frame_no
      FROM m),
    x AS (
      SELECT f.doc_id, f.n_frames, f.frame_no,
             substring(m.text, f.frame_no * 16 + 1, 16) AS fb
      FROM f JOIN m ON f.doc_id = m.doc_id)
    SELECT doc_id, CAST(n_frames AS INTEGER) AS n_frames,
           CAST(frame_no AS INTEGER) AS frame_no,
           md5(fb) AS frame_md5, CAST(length(fb) AS BIGINT) AS frame_len
    FROM x
    """,
    description="video-style frame sampling over binary media columns (every 2nd "
    "frame, fixed-stride byte windows): pure Catalyst explode of per-frame slices; "
    "payloads derived from document bytes so the oracle is exact",
    tags=("multimodal", "binary"),
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("data")
    )
    meta = MM.attach_media_meta(d, "data")
    frames = MM.frame_sample(d, "doc_id", "data")
    return (
        frames.join(
            F.broadcast(meta.select("doc_id", F.col("meta.n_frames").alias("n_frames"))),
            "doc_id",
        )
        .select(
            "doc_id",
            "n_frames",
            "frame_no",
            F.md5("frame_bytes").alias("frame_md5"),
            F.length("frame_bytes").cast("bigint").alias("frame_len"),
        )
    )


def _features_oracle() -> str:
    # sha256 digest is 32 bytes; the stub resizes to the first `dim` bytes.
    # Serialized contract: pseudo-pixel bytes re-quantized (round(x*255) is
    # exact — x is k/255.0) and '|'-joined, plus the raw double sum rounded
    # to 6 d.p., so the IEEE-double Arrow path is still value-checked without
    # emitting an array column (canonicalizer-proof).
    bytes_list = ", ".join(f"{_byte_expr('h', j)} / 255.0" for j in range(MM.FEATURE_DIM))
    return f"""
    WITH h AS (SELECT doc_id, sha256(text) AS h FROM documents),
    feat AS (SELECT doc_id, [{bytes_list}] AS features FROM h)
    SELECT doc_id,
           array_to_string(list_transform(features,
               x -> CAST(CAST(round(x * 255.0, 0) AS INTEGER) AS VARCHAR)), '|') AS features,
           round(list_sum(features), 6) AS feat_sum
    FROM feat
    """


@register(
    "q_multimodal_features",
    oracle=_features_oracle(),
    description="Arrow-batched mapInPandas decode stub (sha256-derived pseudo-pixels, "
    "IEEE-double arithmetic): the Python-stage path that still hash-matches an "
    "ANSI-SQL oracle — proves the multimodal plumbing end-to-end, not rows-only. "
    "'|'-serialized pixel bytes + 6-d.p. double checksum (canonicalizer-proof).",
    tags=("multimodal", "binary", "pandas-udf"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("data")
    )
    feats = MM.decode_features(d, "doc_id", "data", dtype="double")
    return feats.select(
        "doc_id",
        F.concat_ws(
            "|",
            F.transform(
                "features", lambda x: F.round(x * F.lit(255.0), 0).cast("int").cast("string")
            ),
        ).alias("features"),
        F.round(
            F.aggregate("features", F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("feat_sum"),
    )


# The first 96 bytes of each ASCII document of >= 96 chars as pixel values
# v at positions p (an 8x4 RGB raster).
_RASTER_PX_DUCK = """
    WITH d AS (SELECT doc_id, substr(text, 1, 96) AS s
               FROM documents
               WHERE length(text) >= 96
                 AND regexp_full_match(text, '[\\x00-\\x7F]*')),
    px AS (SELECT doc_id, p, ascii(substr(s, CAST(p AS INTEGER), 1)) AS v
           FROM d, range(1, 97) t(p))
"""

# Width, height and per-channel means of the 8x4 RGB raster.
_RGB_MEANS_DUCK = _RASTER_PX_DUCK + """
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
           round(avg(v) FILTER (WHERE (p - 1) % 3 = 0), 6) AS mean_r,
           round(avg(v) FILTER (WHERE (p - 1) % 3 = 1), 6) AS mean_g,
           round(avg(v) FILTER (WHERE (p - 1) % 3 = 2), 6) AS mean_b
    FROM px GROUP BY doc_id
    """


@register(
    "q_image_decode",
    oracle=_RGB_MEANS_DUCK,
    description="REAL image decode: Catalyst builds binary PPM (P6) payloads "
    "(header + 8x4 RGB raster from document bytes), an Arrow mapInPandas stage "
    "parses them with the pure-numpy codec (operators/codecs.py) and extracts "
    "dimensions + channel means; DuckDB recomputes the means from the raw text "
    "without ever seeing the container — a mis-parsed header breaks the hashes",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ASCII guard on BOTH engines: Spark hashes the UTF-8 BYTES of the first
    # 96 chars while the oracle uses ascii() CODEPOINTS — identical only for
    # ASCII, and multi-byte chars would also overflow the 8x4x3 raster that
    # decode_ppm reads. Testdata is ASCII today; the filter makes the
    # contract explicit instead of silent.
    d = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") >= 96)
        .where(F.col("text").rlike(r"^[\x00-\x7F]*$"))
        .select(
            "doc_id",
            F.concat(
                F.lit(b"P6\n8 4\n255\n"),
                F.encode(F.substring("text", 1, 96), "utf-8"),
            ).alias("ppm"),
        )
    )
    feats = MM.image_decode_features(d, "doc_id", "ppm")
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


@register(
    "q_audio_decode",
    oracle="""
    WITH d AS (SELECT doc_id, substr(text, 1, 64) AS s
               FROM documents
               WHERE length(text) >= 64
                 AND regexp_full_match(text, '[\\x00-\\x7F]*')),
    smp AS (SELECT doc_id, p,
                   (ascii(substr(s, CAST(p AS INTEGER), 1)) - 128) * 256 AS v
            FROM d, range(1, 65) t(p)),
    lagd AS (SELECT doc_id, p, v,
                    lag(v) OVER (PARTITION BY doc_id ORDER BY p) AS pv
             FROM smp)
    SELECT doc_id,
           COUNT(*) AS n_samples,
           round(sqrt(CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE) / COUNT(*)), 6) AS rms,
           CAST(COALESCE(SUM(CASE WHEN pv * v < 0 THEN 1 END), 0) AS BIGINT)
               AS zero_crossings
    FROM lagd GROUP BY doc_id
    """,
    description="REAL audio codec: document bytes become int16 PCM samples, the "
    "mapInPandas stage encodes a canonical RIFF/WAVE and decodes it back through "
    "the pure-numpy chunk parser (operators/codecs.py), then extracts RMS + "
    "zero-crossings; DuckDB recomputes both from the raw text — wrong chunk "
    "offsets or fmt fields would corrupt every sample and break the hashes",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same explicit ASCII contract as q_image_decode (bytes vs codepoints).
    d = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") >= 64)
        .where(F.col("text").rlike(r"^[\x00-\x7F]*$"))
        .select(
            "doc_id",
            F.encode(F.substring("text", 1, 64), "utf-8").alias("pcm"),
        )
    )
    feats = MM.audio_roundtrip_features(d, "doc_id", "pcm")
    return feats.select(
        "doc_id", "n_samples", F.round("rms", 6).alias("rms"), "zero_crossings"
    )


def _hex4_to_int(hexcol: str) -> str:
    return " + ".join(
        f"(strpos('{_HEX}', substr({hexcol}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )


@register(
    "q_crossencoder_rerank",
    oracle=f"""
    WITH q AS (SELECT doc_id AS query_id, text AS qtext, source FROM documents
               WHERE doc_id < 10),
    d AS (SELECT doc_id, text AS dtext, source FROM documents),
    pairs AS (
      SELECT q.query_id, d.doc_id,
             sha256(q.qtext || chr(31) || d.dtext) AS h
      FROM q JOIN d USING (source) WHERE d.doc_id != q.query_id),
    scored AS (
      SELECT query_id, doc_id, ({_hex4_to_int('h')}) / 65536.0 AS score FROM pairs),
    ranked AS (
      SELECT query_id, doc_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM scored)
    SELECT query_id, doc_id, score, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3
    """,
    description="cross-encoder rerank plumbing: bounded candidate pairs (same-source) "
    "scored by an Arrow-batched mapInPandas stub (sha256-derived, IEEE double) + "
    "per-query top-k — the Python scoring stage hash-matches the SQL oracle",
    tags=("rerank", "similarity", "pandas-udf"),
)
def q_crossencoder_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.rerank import crossencoder_rerank

    docs = table(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext"), "source"
    )
    cands = docs.select("doc_id", F.col("text").alias("dtext"), "source")
    pairs = queries.join(cands, "source").where(F.col("doc_id") != F.col("query_id"))
    return crossencoder_rerank(pairs, "query_id", "doc_id", "qtext", "dtext")


@register(
    "q_jpeg_roundtrip",
    oracle="""
    SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(24 AS INTEGER) AS height,
           TRUE AS ok
    FROM documents
    """,
    description="REAL baseline-JPEG codec (pure-numpy FDCT + canonical Huffman, "
    "operators/jpeg.py — no PIL/libjpeg): per-doc smooth grayscale plane is "
    "encoded and decoded inside an Arrow mapInPandas stage; the oracle predicts "
    "the spec guarantee (dims + roundtrip error <= 3), so any framing/Huffman/"
    "zigzag/quant/IDCT bug flips the hash",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    return MM.jpeg_roundtrip_features(d, "doc_id")


@register(
    "q_jpeg_progressive",
    oracle="""
    SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(24 AS INTEGER) AS height,
           TRUE AS ok
    FROM documents WHERE doc_id % 5 = 0
    """,
    description="REAL progressive JPEG (SOF2, T.81 Annex G — spectral "
    "selection + successive approximation with EOB-run coding, plus DRI/"
    "RSTn restart framing; operators/jpeg.py, no PIL/libjpeg): per-doc "
    "plane encoded through the standard scan script (DC+AC first/refine) "
    "and decoded by coefficient accumulation across scans; ok requires "
    "the progressive decode to equal the plain-baseline decode EXACTLY "
    "(same quantized coefficients by construction), so any refinement-"
    "bit, EOB-run, or restart bug flips the hash. Zero-shuffle Arrow plan",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every 5th doc: the progressive pipeline runs ~20 Python scan passes
    # per image (10-scan encode + multi-scan decode + the baseline
    # reference pipeline), so the catalog pins correctness on a 1-in-5
    # sample — the per-image kernel cost is constant, coverage of the
    # codec features is identical
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    return MM.jpeg_roundtrip_features(
        d, "doc_id", progressive=True, restart_interval=2,
    )


@register(
    "q_png_decode",
    oracle=_RGB_MEANS_DUCK,
    description="REAL PNG codec (stdlib zlib DEFLATE + CRC chunk framing + "
    "scanline filters, operators/png.py — no PIL): document bytes become an "
    "8x4 RGB plane, encode+decode inside an Arrow mapInPandas stage, channel "
    "means out; PNG is lossless so the oracle predicts EXACT means from the "
    "raw text without ever seeing the container",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same ASCII-bytes guard as q_image_decode (see that query's comment)
    d = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") >= 96)
        .where(F.col("text").rlike(r"^[\x00-\x7F]*$"))
        .select("doc_id", F.encode(F.substring("text", 1, 96), "utf-8").alias("data"))
    )
    feats = MM.png_roundtrip_features(d, "doc_id", "data")
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def _bmp_header_8x4() -> bytes:
    """BITMAPFILEHEADER + BITMAPINFOHEADER for an 8x4 24-bit image whose
    96-byte body follows — computed from the struct layout at import so the
    literal can't drift from the codec."""
    import struct

    body_len = 96
    off = 54
    return struct.pack("<2sIHHI", b"BM", off + body_len, 0, 0, off) + struct.pack(
        "<IiiHHIIiiII", 40, 8, 4, 1, 24, 0, body_len, 2835, 2835, 0, 0
    )


@register(
    "q_bmp_decode",
    oracle=_RASTER_PX_DUCK + """
    SELECT doc_id,
           CAST(8 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
           round(avg(v) FILTER (WHERE (p - 1) % 3 = 2), 6) AS mean_r,
           round(avg(v) FILTER (WHERE (p - 1) % 3 = 1), 6) AS mean_g,
           round(avg(v) FILTER (WHERE (p - 1) % 3 = 0), 6) AS mean_b
    FROM px GROUP BY doc_id
    """,
    description="REAL BMP decode: Catalyst concatenates a Windows DIB "
    "container (binary BITMAPINFOHEADER literal + document bytes as the "
    "pixel body), the Arrow stage parses it with the pure-numpy BMP codec "
    "(BGR order, bottom-up rows, 4-byte row padding); the oracle recomputes "
    "channel means from the raw text with the B<->R swap the format "
    "mandates — a codec that missed the BGR order or the row flip breaks "
    "the hashes",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") >= 96)
        .where(F.col("text").rlike(r"^[\x00-\x7F]*$"))
        .select(
            "doc_id",
            F.concat(
                F.lit(_bmp_header_8x4()),
                F.encode(F.substring("text", 1, 96), "utf-8"),
            ).alias("bmp"),
        )
    )
    feats = MM.image_decode_features(d, "doc_id", "bmp", fmt="bmp")
    return feats.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


@register(
    "q_gif_roundtrip",
    oracle=_RASTER_PX_DUCK + """
    SELECT doc_id,
           CAST(12 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           round(avg(v), 6) AS mean_r,
           round(avg(v), 6) AS mean_g,
           round(avg(v), 6) AS mean_b
    FROM px GROUP BY doc_id
    """,
    description="REAL GIF round-trip: the Arrow kernel LZW-compresses each "
    "document's bytes into a GIF89a (identity grayscale palette, 12x8), "
    "then decodes it back through the full variable-width-code path — the "
    "oracle predicts the exact channel means from the raw text because LZW "
    "is lossless; a mis-packed bit or a wrong dictionary reset corrupts "
    "every downstream pixel and breaks the hashes",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    d = (
        table(spark, sf_dir, "documents")
        .where(F.length("text") >= 96)
        .where(F.col("text").rlike(r"^[\x00-\x7F]*$"))
        .select("doc_id", F.encode(F.substring("text", 1, 96), "utf-8").alias("raw"))
    )

    def kernel(batches):
        import pandas as pd

        from platform_etl_backend_spark.operators.gif import decode_gif, encode_gif

        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        for pdf in batches:
            rows = []
            for did, raw in zip(pdf["doc_id"], pdf["raw"]):
                idx = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(8, 12)
                img = decode_gif(encode_gif(idx, palette))
                rows.append(
                    (
                        did,
                        img.shape[1],
                        img.shape[0],
                        float(img[:, :, 0].astype(np.float64).mean()),
                        float(img[:, :, 1].astype(np.float64).mean()),
                        float(img[:, :, 2].astype(np.float64).mean()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "mean_r", "mean_g", "mean_b"]
            )

    schema = "doc_id bigint, width int, height int, mean_r double, mean_g double, mean_b double"
    out = d.mapInPandas(kernel, schema)
    return out.select(
        "doc_id", "width", "height",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


# --- MP3 frame-header walk (real struct-math codec path) -------------------

_MP3_BITRATES = (64, 96, 128, 192, 320)  # catalog choice by doc_id % 5


def _mp3_sql_case(expr_fmt: str) -> str:
    from platform_etl_backend_spark.operators.codecs import mp3_frame_size

    whens = " ".join(
        f"WHEN {i} THEN {expr_fmt.format(br=br, fsz=mp3_frame_size(br, 44100, 0))}"
        for i, br in enumerate(_MP3_BITRATES)
    )
    return f"CASE doc_id % 5 {whens} END"


@register(
    "q_mp3_frame_walk",
    oracle=f"""
    WITH m AS (SELECT doc_id, length(text) % 8 + 1 AS n FROM documents)
    SELECT doc_id,
           CAST(n AS INTEGER) AS n_frames,
           CAST({_mp3_sql_case("{br}")} AS INTEGER) AS bitrate_kbps,
           CAST(44100 AS INTEGER) AS sample_rate,
           CAST(n * 1152 AS BIGINT) AS total_samples,
           CAST(n * {_mp3_sql_case("{fsz}")} AS BIGINT) AS payload_bytes
    FROM m
    """,
    description="REAL MP3 frame-header walk (ISO 11172-3 struct math): "
    "Catalyst assembles a CBR stream per doc — genuine MPEG-1 Layer III "
    "headers (bitrate varying by doc, every third doc behind an ID3v2 tag "
    "with a synchsafe size) — and the Arrow stage walks it frame by frame "
    "(sync validation, bitrate/samplerate table lookups, frame-length "
    "hops, ID3 skip). The oracle predicts every stat in closed form from "
    "the public frame-length formula; a walker that mis-hopped a single "
    "frame or mis-read the synchsafe size breaks the hashes. Zero-shuffle "
    "plan; Layer III AUDIO decode stays an honest stub (DSP-library-bound)",
    tags=("multimodal", "binary", "pandas-udf", "codec"),
)
def q_mp3_frame_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.codecs import build_mp3_cbr

    d = table(spark, sf_dir, "documents")
    n = (F.length("text") % 8 + 1).cast("int")
    # one real frame per bitrate, as binary literals (zeroed main data)
    frame = None
    for i, br in enumerate(_MP3_BITRATES):
        lit = F.lit(build_mp3_cbr(1, br))
        frame = F.when(F.col("doc_id") % 5 == i, lit) if frame is None else frame.when(
            F.col("doc_id") % 5 == i, lit
        )
    id3 = build_mp3_cbr(0, 64, id3_pad=17)[: 10 + 17]  # tag only, no frames
    prefix = F.when(F.col("doc_id") % 3 == 0, F.lit(id3)).otherwise(
        F.lit(b"")
    )
    reps = None
    for k in range(1, 9):
        body = F.concat(*([frame] * k))
        reps = F.when(n == k, body) if reps is None else reps.when(n == k, body)
    stream = d.select("doc_id", F.concat(prefix, reps).alias("mp3"))
    return MM.mp3_stats(stream, "doc_id", "mp3")


# --- MP4 / ISO BMFF box walk ---------------------------------------------------

def _be4(col):
    return F.unhex(F.lpad(F.hex(col.cast("bigint")), 8, "0"))


@register(
    "q_mp4_box_walk",
    oracle="""
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 7 ELSE 6 END AS INTEGER)
             AS n_boxes,
           CASE WHEN doc_id % 4 = 0 THEN 'ftyp|free|moov|mdat'
                ELSE 'ftyp|moov|mdat' END AS top_types,
           'isom' AS brand,
           CAST(1000 AS INTEGER) AS timescale,
           CAST((doc_id % 100 + 1) * 500 AS BIGINT) AS duration,
           CAST(320 + (doc_id % 4) * 160 AS INTEGER) AS width,
           CAST(180 + (doc_id % 4) * 90 AS INTEGER) AS height,
           CAST(length(text) % 256 + 16 AS BIGINT) AS mdat_bytes
    FROM documents ORDER BY doc_id
    """,
    description="REAL ISO BMFF (MP4) box-tree walk (ISO/IEC 14496-12 "
    "struct math — the video-container sibling of the MP3 frame walk): "
    "Catalyst assembles a genuine minimal MP4 per doc — ftyp, optional "
    "free box, moov(mvhd+trak(tkhd)) with per-doc duration and 16.16 "
    "fixed-point dimensions, mdat with a 64-bit LARGESIZE header on every "
    "5th doc — and the Arrow stage recursively walks the tree (size "
    "validation against the enclosing container, largesize and "
    "to-end-of-container cases, nested containers). The oracle predicts "
    "every field in closed form from the synthesis parameters; a walker "
    "that mis-sized one box or mis-read the 16.16 fields breaks the hash. "
    "Zero-shuffle plan; video SAMPLE decode stays an honest stub "
    "(codec-library-bound)",
    tags=("multimodal", "binary", "pandas-udf", "codec", "video"),
)
def q_mp4_box_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.codecs import (
        _mp4_box,
        mp4_mvhd_payload,
        mp4_tkhd_payload,
    )

    d = table(spark, sf_dir, "documents")
    duration = ((F.col("doc_id") % 100 + 1) * 500).cast("bigint")
    width = (320 + (F.col("doc_id") % 4) * 160).cast("bigint")
    height = (180 + (F.col("doc_id") % 4) * 90).cast("bigint")
    mdat_len = (F.length("text") % 256 + 16).cast("bigint")

    # constant skeleton bytes from the same builders the walker tests use
    ftyp = _mp4_box(b"ftyp", b"isom" + b"\x00\x00\x02\x00" + b"isomiso2mp41")
    free = _mp4_box(b"free", b"\x00" * 8)
    mv = mp4_mvhd_payload(1000, 0)
    tk = mp4_tkhd_payload(0, 0, 0)
    moov_hdr = (216).to_bytes(4, "big") + b"moov"
    mvhd_hdr = (108).to_bytes(4, "big") + b"mvhd"
    trak_hdr = (100).to_bytes(4, "big") + b"trak"
    tkhd_hdr = (92).to_bytes(4, "big") + b"tkhd"

    # repeat('00', n) is n REPETITIONS of the 2-char unit = n bytes
    zeros = F.unhex(F.repeat(F.lit("00"), mdat_len.cast("int")))
    mdat = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(b"\x00\x00\x00\x01mdat"),
            F.unhex(F.lpad(F.hex(mdat_len + 16), 16, "0")),
            zeros,
        ),
    ).otherwise(F.concat(_be4(mdat_len + 8), F.lit(b"mdat"), zeros))
    mp4 = F.concat(
        F.lit(ftyp),
        F.when(F.col("doc_id") % 4 == 0, F.lit(free)).otherwise(F.lit(b"")),
        F.lit(moov_hdr + mvhd_hdr + mv[:16]),
        _be4(duration),
        F.lit(mv[20:] + trak_hdr + tkhd_hdr + tk[:20]),
        _be4(duration),
        F.lit(tk[24:76]),
        _be4(width * 65536),
        _be4(height * 65536),
        mdat,
    )
    stream = d.select("doc_id", mp4.alias("mp4"))
    return MM.mp4_stats(stream, "doc_id", "mp4").orderBy("doc_id")


# --- integer cross-encoder oracle (round-11 VERDICT #9) ----------------------
# The DuckDB side of operators/rerank.py's int_transformer_rerank: the
# IDENTICAL forward pass — md5-derived weights, min-shifted rational
# attention from the CLS query, integer layernorms (exact isqrt via float
# floor + integer correction), softsign FFN, linear head — expressed
# relationally over (pair, position, dim) rows, so the Arrow numpy kernel
# itself is hash-pinned, not a SQL twin of it. All-int64 arithmetic;
# tdiv = truncate-toward-zero (CASE on sign; DuckDB // floors negatives).


def _x6(hx: str) -> str:
    """Int value of the first 6 hex chars of the md5 column expr ``hx``."""
    return " + ".join(
        f"(instr('0123456789abcdef', substr({hx}, {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )


def _xwv(name: str, i: str, j: str) -> str:
    """The weight rule w = md5int6('xw:name:i:j') % 15 - 7."""
    hx = (
        f"md5('xw:{name}:' || CAST({i} AS VARCHAR) || ':' "
        f"|| CAST({j} AS VARCHAR))"
    )
    return f"(({_x6(hx)}) % 15 - 7)"


def _xtdiv(num: str, den: str) -> str:
    return (
        f"(CASE WHEN ({num}) >= 0 THEN ({num}) // ({den}) "
        f"ELSE -((-({num})) // ({den})) END)"
    )


def _xenc_ln(src: str, prefix: str) -> str:
    """Integer layernorm CTE chain over (query_id, doc_id, dim, v) rows."""
    p = prefix
    return f"""
    {p}s AS (SELECT query_id, doc_id, SUM(v) AS sm FROM {src} GROUP BY 1, 2),
    {p}c AS (SELECT r.query_id, r.doc_id, r.dim, 8 * r.v - s.sm AS c
             FROM {src} r JOIN {p}s s USING (query_id, doc_id)),
    {p}v AS (SELECT query_id, doc_id, SUM(c * c) AS varn FROM {p}c GROUP BY 1, 2),
    {p}r AS (SELECT query_id, doc_id, varn,
                    CAST(FLOOR(SQRT(CAST(varn AS DOUBLE))) AS BIGINT) AS r0
             FROM {p}v),
    {p}q AS (SELECT query_id, doc_id,
                    r0 + (CASE WHEN (r0 + 1) * (r0 + 1) <= varn THEN 1 ELSE 0 END)
                       - (CASE WHEN r0 * r0 > varn THEN 1 ELSE 0 END) + 1 AS root
             FROM {p}r),
    {p}y AS (SELECT c.query_id, c.doc_id, c.dim, {_xtdiv('128 * c.c', 'r.root')} AS v
             FROM {p}c c JOIN {p}q r USING (query_id, doc_id))"""


_XENC_TOKH = _x6("md5('xt:' || toks[CAST(p AS INTEGER)])")

_XENC_ORACLE = f"""
    WITH q AS (SELECT doc_id AS query_id, text AS qtext, source FROM documents
               WHERE doc_id < 10),
    d AS (SELECT doc_id, text AS dtext, source FROM documents),
    pairs AS (
      SELECT q.query_id, d.doc_id, q.qtext, d.dtext
      FROM q JOIN d USING (source) WHERE d.doc_id != q.query_id),
    idx2 AS (SELECT t.i FROM range(0, 2) t(i)),
    idx4 AS (SELECT t.i FROM range(0, 4) t(i)),
    idx8 AS (SELECT t.i FROM range(0, 8) t(i)),
    idx16 AS (SELECT t.i FROM range(0, 16) t(i)),
    heads AS (SELECT h.i * 4 + e.i AS he, h.i AS h, e.i AS e
              FROM idx2 h CROSS JOIN idx4 e),
    seqs AS (
      SELECT query_id, doc_id,
             ['[CLS]'] || string_split_regex(trim(qtext), ' +') || ['[SEP]']
                       || string_split_regex(trim(dtext), ' +') AS toks,
             len(string_split_regex(trim(qtext), ' +')) AS nq
      FROM pairs),
    tok AS (
      SELECT query_id, doc_id, p - 1 AS i,
             CASE WHEN p = 1 THEN 0
                  WHEN p = nq + 2 THEN 1
                  ELSE 2 + ({_XENC_TOKH}) % 30 END AS id,
             CASE WHEN p = 1 THEN 0 WHEN p <= nq + 2 THEN 1 ELSE 2 END AS seg
      FROM seqs CROSS JOIN range(1, 13) t(p)
      WHERE p <= len(toks)),
    x0 AS (
      SELECT t.query_id, t.doc_id, t.i, dd.i AS dim,
             ({_xwv('emb', 't.id', 'dd.i')}) + ({_xwv('pos', 't.i', 'dd.i')})
             + ({_xwv('seg', 't.seg', 'dd.i')}) AS v
      FROM tok t CROSS JOIN idx8 dd),
    wqm AS (SELECT dd.i AS dim, h.he, {_xwv('wq', 'dd.i', 'h.he')} AS w
            FROM idx8 dd CROSS JOIN heads h),
    wkm AS (SELECT dd.i AS dim, h.he, {_xwv('wk', 'dd.i', 'h.he')} AS w
            FROM idx8 dd CROSS JOIN heads h),
    wvm AS (SELECT dd.i AS dim, h.he, {_xwv('wv', 'dd.i', 'h.he')} AS w
            FROM idx8 dd CROSS JOIN heads h),
    wom AS (SELECT h.he, dd.i AS dim, {_xwv('wo', 'h.he', 'dd.i')} AS w
            FROM heads h CROSS JOIN idx8 dd),
    w1m AS (SELECT dd.i AS dim, f.i AS f, {_xwv('ff1', 'dd.i', 'f.i')} AS w
            FROM idx8 dd CROSS JOIN idx16 f),
    w2m AS (SELECT f.i AS f, dd.i AS dim, {_xwv('ff2', 'f.i', 'dd.i')} AS w
            FROM idx16 f CROSS JOIN idx8 dd),
    whm AS (SELECT dd.i AS dim, {_xwv('head', '0', 'dd.i')} AS w FROM idx8 dd),
    q0 AS (SELECT x.query_id, x.doc_id, w.he, SUM(x.v * w.w) AS v
           FROM x0 x JOIN wqm w ON x.dim = w.dim WHERE x.i = 0
           GROUP BY 1, 2, 3),
    kk AS (SELECT x.query_id, x.doc_id, x.i, w.he, SUM(x.v * w.w) AS v
           FROM x0 x JOIN wkm w ON x.dim = w.dim GROUP BY 1, 2, 3, 4),
    vv AS (SELECT x.query_id, x.doc_id, x.i, w.he, SUM(x.v * w.w) AS v
           FROM x0 x JOIN wvm w ON x.dim = w.dim GROUP BY 1, 2, 3, 4),
    sc AS (SELECT k.query_id, k.doc_id, h.h, k.i AS j, SUM(q.v * k.v) AS s
           FROM q0 q
           JOIN kk k ON k.query_id = q.query_id AND k.doc_id = q.doc_id
                     AND k.he = q.he
           JOIN heads h ON q.he = h.he
           GROUP BY 1, 2, 3, 4),
    mn AS (SELECT query_id, doc_id, h, MIN(s) AS m FROM sc GROUP BY 1, 2, 3),
    aa AS (SELECT sc.query_id, sc.doc_id, sc.h, sc.j, sc.s - mn.m AS a
           FROM sc JOIN mn USING (query_id, doc_id, h)),
    dn AS (SELECT query_id, doc_id, h, SUM(a) + 1 AS den FROM aa GROUP BY 1, 2, 3),
    cnum AS (SELECT a.query_id, a.doc_id, v.he, SUM(a.a * v.v) AS num
             FROM aa a
             JOIN heads h ON a.h = h.h
             JOIN vv v ON v.query_id = a.query_id AND v.doc_id = a.doc_id
                       AND v.i = a.j AND v.he = h.he
             GROUP BY 1, 2, 3),
    ctx AS (SELECT c.query_id, c.doc_id, c.he, {_xtdiv('c.num', 'd.den')} AS v
            FROM cnum c
            JOIN heads h ON c.he = h.he
            JOIN dn d ON d.query_id = c.query_id AND d.doc_id = c.doc_id
                      AND d.h = h.h),
    oo AS (SELECT c.query_id, c.doc_id, w.dim, SUM(c.v * w.w) AS v
           FROM ctx c JOIN wom w ON c.he = w.he GROUP BY 1, 2, 3),
    r1 AS (SELECT x.query_id, x.doc_id, x.dim, x.v + {_xtdiv('o.v', '1024')} AS v
           FROM (SELECT * FROM x0 WHERE i = 0) x
           JOIN oo o ON o.query_id = x.query_id AND o.doc_id = x.doc_id
                     AND o.dim = x.dim),{_xenc_ln('r1', 'l1')},
    zz AS (SELECT y.query_id, y.doc_id, w.f, SUM(y.v * w.w) AS z
           FROM l1y y JOIN w1m w ON y.dim = w.dim GROUP BY 1, 2, 3),
    h1 AS (SELECT query_id, doc_id, f, {_xtdiv('256 * z', '256 + ABS(z)')} AS v
           FROM zz),
    o2 AS (SELECT h.query_id, h.doc_id, w.dim, SUM(h.v * w.w) AS v
           FROM h1 h JOIN w2m w ON h.f = w.f GROUP BY 1, 2, 3),
    r2 AS (SELECT y.query_id, y.doc_id, y.dim, y.v + {_xtdiv('o.v', '256')} AS v
           FROM l1y y JOIN o2 o ON o.query_id = y.query_id
                               AND o.doc_id = y.doc_id
                               AND o.dim = y.dim),{_xenc_ln('r2', 'l2')},
    hd AS (SELECT z.query_id, z.doc_id, SUM(z.v * w.w) AS logit
           FROM l2y z JOIN whm w ON z.dim = w.dim GROUP BY 1, 2),
    ranked AS (SELECT query_id, doc_id, logit,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY logit DESC, doc_id) AS rk
               FROM hd)
    SELECT query_id, doc_id, CAST(logit AS BIGINT) AS logit,
           CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY query_id, rk
"""


@register(
    "q_transformer_rerank",
    oracle=_XENC_ORACLE,
    description="hash-checkable cross-encoder rerank, top-3 docs per query: the "
    "scorer is an integer fixed-point single-layer transformer — md5-derived "
    "committed weights, hashed-vocab + positional + segment embeddings "
    "over [CLS] query [SEP] doc, 2-head rational attention from the CLS "
    "query (min-shifted scores, truncating division), integer layernorms "
    "(exact isqrt), softsign FFN, linear head — every op exact int64, so "
    "the Arrow mapInPandas numpy kernel (the torch/onnx deployment "
    "shape), a pure-python pin, and the relational DuckDB oracle agree "
    "bit-for-bit. SCALE: candidate sets bounded by the generator upstream; "
    "scoring is map-side, one forward per record batch",
    tags=("rerank", "similarity", "pandas-udf", "ml"),
)
def q_transformer_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from platform_etl_backend_spark.operators.rerank import int_transformer_rerank

    docs = table(spark, sf_dir, "documents")
    queries = docs.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("qtext"), "source"
    )
    cands = docs.select("doc_id", F.col("text").alias("dtext"), "source")
    pairs = queries.join(cands, "source").where(F.col("doc_id") != F.col("query_id"))
    return int_transformer_rerank(
        pairs, "query_id", "doc_id", "qtext", "dtext"
    ).orderBy("query_id", "rk")
