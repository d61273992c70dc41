"""Multimodal column plumbing (beyond-reference tier).

Images/audio/video are opaque ``binary`` columns with typed metadata. The
Spark-side machinery — schema, Arrow-batched ``mapInPandas``, partition-safe
batch iteration — is real and oracle-verified. The decode step is real too:
PNG + BMP (r6, operators/codecs.py), baseline JPEG (r7, operators/jpeg.py),
WAV/PCM audio (r7, operators/audio.py), and AVI/MJPEG video demux+decode
(r7, operators/avi.py), and lossless WebP/VP8L (r7, operators/webp.py) —
each driven end-to-end by an oracle-verified registry entry. Only lossy
WebP, non-baseline JPEG, and non-MJPEG video codecs remain honestly
env-blocked behind ``NotImplementedError``, with the deterministic fake
(:func:`fake_decode_meta`) still exercising the Arrow plumbing for those
shapes.

Design for 100 TB: binary payloads stay in Parquet (or are pointers into an
object store); decode/feature-extract runs as ``mapInPandas`` over Arrow
batches so each task streams batches without materializing a partition;
repartition by content size class upstream if payloads are skewed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skinnerdb_spark.queries.util import read_table
from skinnerdb_spark.registry import register

#: canonical multimodal record: payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("fake_width", T.LongType()),
        T.StructField("fake_height", T.LongType()),
        T.StructField("channels", T.LongType()),
    ]
)


def decode_image(content: bytes) -> tuple[int, int, int, bytes]:
    """REAL image decode for PNG, BMP, baseline JPEG, lossless WebP, and
    GIF — pure-stdlib codecs (operators/codecs.py, jpeg.py, webp.py,
    gif.py). Remaining formats (lossy WebP, progressive JPEG) still raise
    NotImplementedError: those codecs genuinely are not in this container,
    and the error names what IS supported. Returns (width, height,
    channels, top-down bytes); exercised end-to-end by the oracle-verified
    ``multimodal_decode_stats``, ``multimodal_jpeg_roundtrip``,
    ``multimodal_webp_roundtrip`` and ``multimodal_gif_roundtrip``
    entries."""
    from skinnerdb_spark.operators.codecs import decode_image as _decode

    return _decode(content)


def sample_video_frames(content: bytes, every_n: int = 30) -> list[bytes]:
    """REAL frame sampling for AVI/MJPEG (r7 — pure-stdlib demuxer,
    operators/avi.py): every ``every_n``-th compressed frame payload from
    the container's movi list. Non-AVI containers (mp4/mkv/webm) raise —
    those demuxers genuinely are not here. Exercised end-to-end by the
    oracle-verified ``multimodal_video_frames`` entry."""
    from skinnerdb_spark.operators.avi import decode_avi

    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise NotImplementedError(
            "only AVI/MJPEG demux is available in this environment "
            "(pure-stdlib); mp4/mkv/webm need external libraries"
        )
    _w, _h, _fps, _n, frames = decode_avi(content)
    return frames[::every_n]


def fake_decode_meta(content: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a decoder: derives (width, height, channels)
    from the content's md5 — stable across engines and runs."""
    h = hashlib.md5(content).hexdigest()
    return 64 + int(h[0:2], 16), 64 + int(h[2:4], 16), 3


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via mapInPandas.

    The Spark plumbing (batch iteration, schema contract, column pruning into
    the scan) is production-shaped; only the decode internals are fake.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf["content"]
            meta = [fake_decode_meta(bytes(c)) for c in content]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "byte_len": [len(bytes(c)) for c in content],
                    "content_md5": [hashlib.md5(bytes(c)).hexdigest() for c in content],
                    "fake_width": [m[0] for m in meta],
                    "fake_height": [m[1] for m in meta],
                    "channels": [m[2] for m in meta],
                }
            )

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)


# hex-digit -> int, portable SQL (both engines: strpos/instr is 1-based)
def _hexval_sql(ch: str) -> str:
    return f"(STRPOS('0123456789abcdef', {ch}) - 1)"


_FEATURE_ORACLE = f"""
    SELECT doc_id AS media_id,
           CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
           md5(text) AS content_md5,
           CAST(64 + 16 * {_hexval_sql("SUBSTR(md5(text), 1, 1)")}
                   + {_hexval_sql("SUBSTR(md5(text), 2, 1)")} AS BIGINT) AS fake_width,
           CAST(64 + 16 * {_hexval_sql("SUBSTR(md5(text), 3, 1)")}
                   + {_hexval_sql("SUBSTR(md5(text), 4, 1)")} AS BIGINT) AS fake_height,
           CAST(3 AS BIGINT) AS channels
    FROM documents
"""


@register("multimodal_features", _FEATURE_ORACLE, tags=("multimodal", "pipeline"))
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal pipeline on real data: documents.text encoded to
    a binary payload column, then Arrow/mapInPandas feature extraction.

    The oracle recomputes the deterministic fake decode in pure SQL (md5 of
    the same UTF-8 bytes), so the whole Python-side batch path — Arrow
    transfer, schema contract, per-batch iteration — is value-verified.
    """
    d = read_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
        F.lit("image").alias("media_type"),
    )
    return extract_features(media)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)


def fake_frame_count(content: bytes) -> int:
    """Deterministic stand-in for container metadata: 1-4 frames derived
    from payload length (a real decoder would read the stream header)."""
    return 1 + (len(content) % 4)


def sample_frames(media: DataFrame) -> DataFrame:
    """ROW-EXPANDING Arrow pipeline: each binary payload yields N frame rows
    (the video frame-sampling shape — mapInPandas emitting more rows than it
    consumes, batch-safe). Frame fingerprints are the deterministic fake for
    the decoded frame bytes; the REAL demux path is
    :func:`sample_video_frames` (AVI/MJPEG, oracle-driven end-to-end by
    ``multimodal_video_frames``)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, digests = [], [], []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(c)
                for i in range(fake_frame_count(raw)):
                    ids.append(mid)
                    idxs.append(i)
                    digests.append(hashlib.md5(raw + b"#" + str(i).encode()).hexdigest())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_md5": digests}
            )

    return media.mapInPandas(gen, schema=FRAME_SCHEMA)


_FRAME_ORACLE = """
    WITH m AS (SELECT doc_id AS media_id, text,
                      1 + OCTET_LENGTH(CAST(text AS BLOB)) % 4 AS n_frames
               FROM documents)
    SELECT media_id, CAST(g.i AS BIGINT) AS frame_idx,
           md5(text || '#' || CAST(g.i AS VARCHAR)) AS frame_md5
    FROM m, UNNEST(generate_series(0, n_frames - 1, 1)) AS g(i)
"""


@register("multimodal_frame_sample", _FRAME_ORACLE, tags=("multimodal", "pipeline"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling end-to-end: binary payloads through the row-expanding
    Arrow path (1-to-N mapInPandas), frame count + per-frame fingerprint
    recomputed by the oracle in pure SQL — verifying the expansion logic,
    batch iteration, and byte-level digest agreement."""
    d = read_table(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("content"),
        F.lit("video").alias("media_type"),
    )
    return sample_frames(media)


_RESIZE_ORACLE = f"""
    WITH dims AS (
        SELECT doc_id AS media_id,
               CAST(64 + 16 * {_hexval_sql("SUBSTR(md5(text), 1, 1)")}
                       + {_hexval_sql("SUBSTR(md5(text), 2, 1)")} AS BIGINT) AS w,
               CAST(64 + 16 * {_hexval_sql("SUBSTR(md5(text), 3, 1)")}
                       + {_hexval_sql("SUBSTR(md5(text), 4, 1)")} AS BIGINT) AS h
        FROM documents)
    SELECT media_id, w AS fake_width, h AS fake_height,
           CAST(CASE WHEN w >= h THEN 224 ELSE (w * 224) // h END AS BIGINT)
             AS out_width,
           CAST(CASE WHEN w >= h THEN (h * 224) // w ELSE 224 END AS BIGINT)
             AS out_height
    FROM dims
"""


@register("multimodal_resize_plan", _RESIZE_ORACLE, tags=("multimodal", "pipeline"))
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning: target 224 on the long side, aspect preserved with
    INTEGER floor arithmetic (cross-engine exact — no float scale factors).
    Runs entirely as column algebra over the fake-decoded dims; the real
    pixel resample is the codec call a production build plugs into the same
    schema."""
    d = read_table(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text").cast("binary"))
    hexv = lambda i: F.expr(  # noqa: E731
        f"instr('0123456789abcdef', substring(md5(cast(text as binary)), {i}, 1)) - 1"
    )
    w = (F.lit(64) + 16 * hexv(1) + hexv(2)).cast("bigint")
    h = (F.lit(64) + 16 * hexv(3) + hexv(4)).cast("bigint")
    dims = d.select(F.col("doc_id").alias("media_id"), w.alias("w"), h.alias("h"))
    return dims.select(
        "media_id",
        F.col("w").alias("fake_width"),
        F.col("h").alias("fake_height"),
        F.when(F.col("w") >= F.col("h"), F.lit(224))
        .otherwise(F.floor(F.col("w") * 224 / F.col("h")))
        .cast("bigint")
        .alias("out_width"),
        F.when(F.col("w") >= F.col("h"), F.floor(F.col("h") * 224 / F.col("w")))
        .otherwise(F.lit(224))
        .cast("bigint")
        .alias("out_height"),
    )


# ---------------------------------------------------------------------------
# REAL decode path (r6): encode deterministic BMP payloads, decode them with
# the pure-stdlib codec, emit pixel statistics — the oracle recomputes the
# same statistics from the generating formula in pure SQL, so the whole
# encode -> Arrow -> parse-actual-BMP-bytes -> stats chain is value-checked.
# ---------------------------------------------------------------------------

DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("px00_r", T.LongType()),
    ]
)


def _test_pixels(media_id: int) -> tuple[int, int, bytes]:
    """Deterministic fixture image: dims + RGB from integer algebra only
    (so a SQL oracle can recompute every statistic exactly)."""
    w, h = 4 + media_id % 5, 3 + media_id % 7
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px.append((media_id * 7 + x * 13 + y * 31) % 256)
            px.append((media_id * 11 + x * 17 + y * 5) % 256)
            px.append((media_id * 3 + x * 29 + y * 23) % 256)
    return w, h, bytes(px)


def encode_test_media(ids: DataFrame) -> DataFrame:
    """(media_id) -> (media_id, content): spec-compliant 24-bit BMP bytes
    built worker-side per row (Arrow batches; no driver loop)."""
    from skinnerdb_spark.operators.codecs import encode_bmp

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                w, h, px = _test_pixels(int(mid))
                payloads.append(encode_bmp(w, h, px))
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": payloads})

    return ids.mapInPandas(gen, schema="media_id long, content binary")


def decode_stats(media: DataFrame) -> DataFrame:
    """Binary payloads -> per-image pixel statistics via the REAL decoder
    (format dispatch on magic bytes — PNG and BMP both land here)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from skinnerdb_spark.operators.codecs import decode_image as _decode

        for pdf in batches:
            rows = []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                w, h, ch, px = _decode(bytes(c))
                # keep the stat labels truthful per channel count (ADVICE
                # r6): 1 = grayscale (all in sum_r), 3 = RGB, 4 = RGBA
                # (alpha ignored). Anything else would silently mislabel.
                if ch in (3, 4):
                    sums = (sum(px[0::ch]), sum(px[1::ch]), sum(px[2::ch]))
                elif ch == 1:
                    sums = (sum(px), 0, 0)
                else:
                    raise ValueError(
                        f"decode_stats: unsupported channel count {ch} "
                        f"for media_id={int(mid)}"
                    )
                rows.append(
                    {
                        "media_id": int(mid),
                        "width": w,
                        "height": h,
                        "channels": ch,
                        "sum_r": sums[0],
                        "sum_g": sums[1],
                        "sum_b": sums[2],
                        "px00_r": px[0],
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODE_SCHEMA.fields])

    return media.mapInPandas(gen, schema=DECODE_SCHEMA)


_DECODE_ORACLE = """
    WITH ids AS (SELECT doc_id AS media_id,
                        4 + doc_id % 5 AS w, 3 + doc_id % 7 AS h
                 FROM documents),
    cells AS (
        SELECT media_id, w, h, gx.x AS x, gy.y AS y
        FROM ids,
             UNNEST(generate_series(0, w - 1, 1)) AS gx(x),
             UNNEST(generate_series(0, h - 1, 1)) AS gy(y))
    SELECT media_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(SUM((media_id * 7 + x * 13 + y * 31) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((media_id * 11 + x * 17 + y * 5) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((media_id * 3 + x * 29 + y * 23) % 256) AS BIGINT) AS sum_b,
           CAST(media_id * 7 % 256 AS BIGINT) AS px00_r
    FROM cells
    GROUP BY media_id, w, h
"""


@register("multimodal_decode_stats", _DECODE_ORACLE, tags=("multimodal", "pipeline", "codec"))
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (r6 — the codec stub is closed for
    PNG/BMP): worker-side BMP ENCODE of a deterministic fixture image per
    document, then a second Arrow stage that parses the actual BMP bytes
    back with the pure-stdlib decoder (operators/codecs.py) and emits
    integer pixel statistics. The oracle recomputes width/height/channel
    sums and the top-left red sample from the generating formula in pure
    SQL — top-left orientation pins the decoder's bottom-up row flip, and
    the channel sums pin the BGR->RGB swap and row padding handling.

    Scale shape: both stages are mapInPandas over Arrow batches — per-task
    streaming, no driver involvement, no shuffle at all (the stats are
    per-row). At 100 TB this is exactly the decode pass of a multimodal
    curation pipeline; JPEG arrives by swapping the codec call."""
    d = read_table(spark, sf_dir, "documents")
    media = encode_test_media(d.select(F.col("doc_id").alias("media_id")))
    return decode_stats(media)


def _probe_docs(ids: DataFrame, schema: T.StructType, probe) -> DataFrame:
    """One ``schema`` row per ``media_id`` of ``ids``: ``probe(media_id)``
    builds the document's media bytes, decodes them back and returns the row
    as a dict — the Arrow-batched loop of the codec round-trip entries.
    ``probe`` runs worker-side, so it imports its codec itself."""
    cols = schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([probe(int(mid)) for mid in pdf["media_id"]], columns=cols)

    return ids.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# REAL JPEG path (r7): the pure-stdlib baseline JPEG codec (operators/
# jpeg.py) exercised end-to-end through Spark — encode a smooth fixture
# image per document worker-side, decode the actual JPEG bytes back, and
# verify the lossy round-trip against the generating formula INSIDE the
# worker (max per-sample error bound). The hash-gated output carries the
# exactly-predictable fields (dims, channels, tolerance verdict), so a
# broken Huffman table / IDCT / upsampler flips `within_tol` and fails the
# driver gate; pixel-exact behavior is pinned separately by the component
# round-trip tests (JPEG is lossy, so pixel sums cannot be SQL-oracled).
# ---------------------------------------------------------------------------

JPEG_DOCS = 300  # bounded probe set: pure-Python DCT per image
JPEG_TOL = 12    # max abs per-sample error for q90 4:4:4 on smooth content


def _jpeg_test_pixels(media_id: int) -> tuple[int, int, bytes]:
    """Smooth deterministic fixture (no 255->0 wraps: JPEG ringing on hard
    edges would need a loose tolerance that could mask real bugs)."""
    w, h = 16 + media_id % 9, 12 + media_id % 7
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px.append(min(255, 30 + media_id % 60 + x * 5 + y * 2))
            px.append(min(255, 60 + (media_id // 3) % 50 + x * 2 + y * 4))
            px.append(max(0, 220 - (media_id % 40) - x * 3 - y * 3))
    return w, h, bytes(px)


_JPEG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("within_tol", T.BooleanType()),
    ]
)

_JPEG_ORACLE = f"""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(16 + doc_id % 9 AS BIGINT) AS width,
           CAST(12 + doc_id % 7 AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS channels,
           TRUE AS within_tol
    FROM documents WHERE doc_id < {JPEG_DOCS}
"""


@register("multimodal_jpeg_roundtrip", _JPEG_ORACLE, tags=("multimodal", "pipeline", "codec"))
def multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode -> decode real baseline JPEG bytes per document over Arrow
    batches (see module comment above). Scale shape: one mapInPandas stage,
    per-task streaming, zero shuffle; the probe set is bounded (JPEG_DOCS)
    because the pure-Python DCT is a test-fixture path — a production 100 TB
    decode pass swaps in a native codec behind the same batch signature."""

    def probe(mid: int) -> dict:
        from skinnerdb_spark.operators.jpeg import decode_jpeg, encode_jpeg

        w, h, px = _jpeg_test_pixels(mid)
        dw, dh, dc, out = decode_jpeg(encode_jpeg(w, h, px, channels=3, quality=90))
        ok = (
            (dw, dh, dc) == (w, h, 3)
            and max(abs(a - b) for a, b in zip(px, out)) <= JPEG_TOL
        )
        return {"media_id": mid, "width": dw, "height": dh, "channels": dc, "within_tol": ok}

    d = read_table(spark, sf_dir, "documents")
    ids = d.select(F.col("doc_id").alias("media_id")).filter(
        F.col("media_id") < JPEG_DOCS
    )
    return _probe_docs(ids.repartition(8), _JPEG_SCHEMA, probe)


# ---------------------------------------------------------------------------
# REAL AUDIO path (r7): pure-stdlib RIFF/WAVE codec (operators/audio.py)
# exercised end-to-end — synthesize deterministic int16 PCM per document,
# encode real WAV bytes worker-side, then a second Arrow stage parses the
# actual RIFF chunk structure back and emits integer audio features
# (duration, per-channel sum, peak amplitude, zero-crossing rate numerator).
# Every feature is exact integer algebra, so the SQL oracle recomputes all
# of them from the generating formula — a wrong chunk walk, pad-byte slip,
# byte order, or interleave de-mux flips a hash-gated column.
# ---------------------------------------------------------------------------

_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("sum_ch0", T.LongType()),
        T.StructField("peak_abs", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def _audio_params(media_id: int) -> tuple[int, int, int]:
    """(n_frames, sample_rate, channels) — integer algebra only."""
    return 120 + media_id % 61, 8000 + (media_id % 3) * 4000, 1 + media_id % 2


def _audio_sample(media_id: int, ch: int, i: int) -> int:
    return ((media_id * 31 + ch * 59 + i * 97) % 2001) - 1000


_AUDIO_ORACLE = """
    WITH p AS (
        SELECT doc_id, 120 + doc_id % 61 AS n,
               8000 + (doc_id % 3) * 4000 AS sr,
               1 + doc_id % 2 AS ch
        FROM documents),
    s AS (
        SELECT doc_id, n, sr, ch, i.i AS i,
               ((doc_id * 31 + i.i * 97) % 2001) - 1000 AS s0,
               ((doc_id * 31 + 59 + i.i * 97) % 2001) - 1000 AS s1,
               ((doc_id * 31 + (i.i - 1) * 97) % 2001) - 1000 AS s0_prev
        FROM p, UNNEST(generate_series(0, CAST(n - 1 AS BIGINT), 1)) AS i(i))
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(ch AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * 1000000 // sr AS BIGINT) AS duration_us,
           CAST(SUM(s0) AS BIGINT) AS sum_ch0,
           CAST(MAX(GREATEST(ABS(s0),
                    CASE WHEN ch = 2 THEN ABS(s1) ELSE 0 END)) AS BIGINT) AS peak_abs,
           CAST(SUM(CASE WHEN i > 0 AND ((s0_prev < 0) <> (s0 < 0))
                         THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
    FROM s
    GROUP BY doc_id, n, sr, ch
"""


@register("multimodal_audio_features", _AUDIO_ORACLE, tags=("multimodal", "pipeline", "codec"))
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: per-document WAV bytes built and then
    re-parsed by the pure-stdlib RIFF codec (operators/audio.py), features
    computed from the DECODED stream only. Scale shape: one mapInPandas
    stage over Arrow batches, per-task streaming, zero shuffle — the exact
    decode/feature pass of an audio curation pipeline at 100 TB; a native
    codec swaps in behind the same batch signature."""

    def probe(mid: int) -> dict:
        from skinnerdb_spark.operators.audio import decode_wav, encode_wav

        n, sr, ch = _audio_params(mid)
        interleaved = [_audio_sample(mid, c, i) for i in range(n) for c in range(ch)]
        sr_d, ch_d, out = decode_wav(encode_wav(sr, ch, interleaved))
        nf = len(out) // ch_d
        ch0 = out[0::ch_d]
        return {
            "media_id": mid,
            "sample_rate": sr_d,
            "channels": ch_d,
            "n_frames": nf,
            "duration_us": nf * 1_000_000 // sr_d,
            "sum_ch0": sum(ch0),
            "peak_abs": max(abs(v) for v in out),
            "zero_crossings": sum(1 for a, b in zip(ch0, ch0[1:]) if (a < 0) != (b < 0)),
        }

    d = read_table(spark, sf_dir, "documents")
    ids = d.select(F.col("doc_id").alias("media_id"))
    return _probe_docs(ids.repartition(16), _AUDIO_SCHEMA, probe)


# ---------------------------------------------------------------------------
# REAL VIDEO path (r7): AVI (RIFF) container with MJPEG frames — the
# pure-stdlib demuxer (operators/avi.py) + the r7 baseline JPEG codec
# (operators/jpeg.py) exercised end-to-end. Build a real AVI per document
# worker-side (every frame an actual JPEG), re-parse the container, sample
# every 2nd frame (the pipeline's frame-sampling op), decode the sampled
# JPEGs, and verify each against the generating formula AT ITS OWN frame
# index — so a demux offset, pad-byte slip, or index shift flips the
# hash-gated `within_tol` column. Dims/fps/frame-count/duration are exact
# and SQL-oracled directly.
# ---------------------------------------------------------------------------

VIDEO_DOCS = 240   # bounded probe set: pure-Python DCT per frame
VIDEO_TOL = 12     # same q90 smooth-content bound as the JPEG entry


def _video_params(media_id: int) -> tuple[int, int, int, int]:
    """(width, height, fps, n_frames) — integer algebra only."""
    return 16 + media_id % 9, 12 + media_id % 7, 10 + media_id % 5, 4 + media_id % 5


def _video_frame_pixels(media_id: int, f: int) -> bytes:
    w, h, _fps, _n = _video_params(media_id)
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px.append(min(255, 30 + media_id % 60 + x * 5 + y * 2 + f * 3))
            px.append(min(255, 60 + (media_id // 3) % 50 + x * 2 + y * 4 + f * 2))
            px.append(max(0, 220 - media_id % 40 - x * 3 - y * 3 - f * 4))
    return bytes(px)


_VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("fps", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sampled_count", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("within_tol", T.BooleanType()),
    ]
)

_VIDEO_ORACLE = f"""
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(16 + doc_id % 9 AS BIGINT) AS width,
           CAST(12 + doc_id % 7 AS BIGINT) AS height,
           CAST(10 + doc_id % 5 AS BIGINT) AS fps,
           CAST(4 + doc_id % 5 AS BIGINT) AS n_frames,
           CAST((4 + doc_id % 5 + 1) // 2 AS BIGINT) AS sampled_count,
           CAST((4 + doc_id % 5) * (1000000 // (10 + doc_id % 5)) AS BIGINT)
               AS duration_us,
           TRUE AS within_tol
    FROM documents WHERE doc_id < {VIDEO_DOCS}
"""


@register("multimodal_video_frames", _VIDEO_ORACLE, tags=("multimodal", "pipeline", "codec"))
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling end-to-end (see section comment). Scale
    shape: one mapInPandas stage, per-task streaming, zero shuffle; the
    probe set is bounded (VIDEO_DOCS) because the pure-Python DCT is the
    test-fixture path — a production 100 TB pass swaps a native
    demuxer/decoder behind the same batch signature."""

    def probe(mid: int) -> dict:
        from skinnerdb_spark.operators.avi import decode_avi, encode_avi
        from skinnerdb_spark.operators.jpeg import decode_jpeg, encode_jpeg

        w, h, fps, n = _video_params(mid)
        avi = encode_avi(
            w, h, fps,
            [
                encode_jpeg(w, h, _video_frame_pixels(mid, f), channels=3, quality=90)
                for f in range(n)
            ],
        )
        dw, dh, dfps, dn, frames = decode_avi(avi)
        sampled = list(range(0, dn, 2))
        ok = (dw, dh, dfps, dn) == (w, h, fps, n)
        for f in sampled:
            fw, fh, fc, px = decode_jpeg(frames[f])
            ref = _video_frame_pixels(mid, f)
            ok = ok and (fw, fh, fc) == (w, h, 3) and max(
                abs(a - b) for a, b in zip(px, ref)
            ) <= VIDEO_TOL
        return {
            "media_id": mid,
            "width": dw,
            "height": dh,
            "fps": dfps,
            "n_frames": dn,
            "sampled_count": len(sampled),
            "duration_us": dn * (1_000_000 // dfps),
            "within_tol": ok,
        }

    d = read_table(spark, sf_dir, "documents")
    ids = d.select(F.col("doc_id").alias("media_id")).filter(
        F.col("media_id") < VIDEO_DOCS
    )
    return _probe_docs(ids.repartition(16), _VIDEO_SCHEMA, probe)


# ---------------------------------------------------------------------------
# REAL WEBP path (r7): pure-stdlib lossless VP8L codec (operators/webp.py)
# exercised end-to-end — encode a deterministic fixture per document
# worker-side (constant rows every 3rd line exercise the LZ77 run path,
# gradient rows the color cache + full prefix-code machinery), decode the
# actual RIFF/VP8L bytes back, and emit exact integer channel sums. WebP
# lossless means the decode must reproduce the generating formula BIT-
# EXACTLY, so — unlike the lossy JPEG entry — the SQL oracle recomputes
# every output column including the pixel sums: any bit-packing, prefix-
# code, cache-hash, or backward-reference bug flips a hash-gated value.
# ---------------------------------------------------------------------------

WEBP_DOCS = 300  # bounded probe set: pure-Python entropy coding per image


def _webp_test_pixels(media_id: int) -> tuple[int, int, bytes]:
    w, h = 16 + media_id % 9, 12 + media_id % 7
    px = bytearray()
    for y in range(h):
        for x in range(w):
            if y % 3 == 0:  # constant rows -> LZ77 distance-1 runs
                px += bytes((media_id % 256, 77, 200))
            else:
                px.append((x * 7 + y * 3 + media_id) % 256)
                px.append((x * 2 + y * 11 + media_id * 5) % 256)
                px.append((x * 3 + y * 7 + media_id * 3) % 256)
    return w, h, bytes(px)


_WEBP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("lossless", T.BooleanType()),
    ]
)

_WEBP_ORACLE = f"""
    WITH p AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(16 + doc_id % 9 AS BIGINT) AS w,
               CAST(12 + doc_id % 7 AS BIGINT) AS h
        FROM documents WHERE doc_id < {WEBP_DOCS}),
    px AS (
        SELECT p.doc_id, p.w, p.h, x.x, y.y,
               CASE WHEN y.y % 3 = 0 THEN p.doc_id % 256
                    ELSE (x.x * 7 + y.y * 3 + p.doc_id) % 256 END AS r,
               CASE WHEN y.y % 3 = 0 THEN 77
                    ELSE (x.x * 2 + y.y * 11 + p.doc_id * 5) % 256 END AS g,
               CASE WHEN y.y % 3 = 0 THEN 200
                    ELSE (x.x * 3 + y.y * 7 + p.doc_id * 3) % 256 END AS b
        FROM p,
             UNNEST(generate_series(0, p.w - 1)) AS x(x),
             UNNEST(generate_series(0, p.h - 1)) AS y(y))
    SELECT doc_id AS media_id,
           w AS width,
           h AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           TRUE AS lossless
    FROM px
    GROUP BY doc_id, w, h
    ORDER BY media_id
"""


@register("multimodal_webp_roundtrip", _WEBP_ORACLE,
          tags=("multimodal", "pipeline", "codec"))
def multimodal_webp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode -> decode real lossless WebP (VP8L) bytes per document over
    Arrow batches; exact channel sums SQL-oracled (see module comment).
    Scale shape: one mapInPandas stage, per-task streaming, zero shuffle;
    the probe set is bounded (WEBP_DOCS) because pure-Python entropy coding
    is a test-fixture path — a production decode pass swaps in a native
    codec behind the same batch signature."""

    def probe(mid: int) -> dict:
        from skinnerdb_spark.operators.webp import decode_webp, encode_webp

        w, h, px = _webp_test_pixels(mid)
        dw, dh, dc, out = decode_webp(encode_webp(w, h, px, channels=3))
        return {
            "media_id": mid,
            "width": dw,
            "height": dh,
            "channels": dc,
            "sum_r": sum(out[0::3]),
            "sum_g": sum(out[1::3]),
            "sum_b": sum(out[2::3]),
            "lossless": out == px and (dw, dh, dc) == (w, h, 3),
        }

    d = read_table(spark, sf_dir, "documents")
    ids = d.select(F.col("doc_id").alias("media_id")).filter(
        F.col("media_id") < WEBP_DOCS
    )
    return _probe_docs(ids.repartition(8), _WEBP_SCHEMA, probe).orderBy("media_id")


# ---------------------------------------------------------------------------
# REAL GIF path (r7): pure-stdlib LZW codec (operators/gif.py) exercised
# end-to-end. GIF is indexed color, so the fixture draws from an 11-color
# per-document palette (constant rows every 4th line exercise the LZW run
# path; the diagonal pattern exercises dictionary growth across the
# variable-width 3..12-bit code schedule). GIF is lossless over palette
# images, so — like WebP and unlike lossy JPEG — the SQL oracle recomputes
# EVERY output column including the exact channel sums: any bit-packing,
# code-width, or palette bug flips a hash-gated value.
# ---------------------------------------------------------------------------

GIF_DOCS = 300  # bounded probe set: pure-Python LZW per image


def _gif_test_pixels(media_id: int) -> tuple[int, int, bytes]:
    w, h = 14 + media_id % 11, 10 + media_id % 5
    px = bytearray()
    for y in range(h):
        for x in range(w):
            k = media_id % 11 if y % 4 == 0 else (x * 3 + y * 5 + media_id) % 11
            px.append((k * 23 + media_id) % 256)
            px.append((k * 41 + media_id * 7) % 256)
            px.append((k * 59 + 13) % 256)
    return w, h, bytes(px)


_GIF_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("channels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("lossless", T.BooleanType()),
    ]
)

_GIF_ORACLE = f"""
    WITH p AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(14 + doc_id % 11 AS BIGINT) AS w,
               CAST(10 + doc_id % 5 AS BIGINT) AS h
        FROM documents WHERE doc_id < {GIF_DOCS}),
    px AS (
        SELECT p.doc_id, p.w, p.h,
               CASE WHEN y.y % 4 = 0 THEN p.doc_id % 11
                    ELSE (x.x * 3 + y.y * 5 + p.doc_id) % 11 END AS k
        FROM p,
             UNNEST(generate_series(0, p.w - 1)) AS x(x),
             UNNEST(generate_series(0, p.h - 1)) AS y(y))
    SELECT doc_id AS media_id,
           w AS width,
           h AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(SUM((k * 23 + doc_id) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((k * 41 + doc_id * 7) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((k * 59 + 13) % 256) AS BIGINT) AS sum_b,
           TRUE AS lossless
    FROM px
    GROUP BY doc_id, w, h
    ORDER BY media_id
"""


@register("multimodal_gif_roundtrip", _GIF_ORACLE,
          tags=("multimodal", "pipeline", "codec"))
def multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode -> decode real GIF bytes (LZW, variable-width codes) per
    document over Arrow batches; exact channel sums SQL-oracled (see module
    comment). Scale shape: one mapInPandas stage, per-task streaming, zero
    shuffle; the probe set is bounded (GIF_DOCS) because pure-Python LZW is
    a test-fixture path — a production decode pass swaps in a native codec
    behind the same batch signature."""

    def probe(mid: int) -> dict:
        from skinnerdb_spark.operators.gif import decode_gif, encode_gif

        w, h, px = _gif_test_pixels(mid)
        dw, dh, dc, out = decode_gif(encode_gif(w, h, px))
        return {
            "media_id": mid,
            "width": dw,
            "height": dh,
            "channels": dc,
            "sum_r": sum(out[0::3]),
            "sum_g": sum(out[1::3]),
            "sum_b": sum(out[2::3]),
            "lossless": out == px and (dw, dh, dc) == (w, h, 3),
        }

    d = read_table(spark, sf_dir, "documents")
    ids = d.select(F.col("doc_id").alias("media_id")).filter(
        F.col("media_id") < GIF_DOCS
    )
    return _probe_docs(ids.repartition(8), _GIF_SCHEMA, probe).orderBy("media_id")


# ---------------------------------------------------------------------------
# REAL TIFF path (r9): pure-stdlib baseline TIFF 6.0 (operators/tiff.py) —
# multi-strip PackBits encode per document, decode through decode_image's
# magic-byte dispatch (so the TIFF branch of binary ingest is what's
# exercised), exact channel sums SQL-oracled from the generating formula.
# ---------------------------------------------------------------------------
TIFF_DOCS = 300  # bounded probe set, the WebP/GIF precedent (pure-Python
                 # run-length coding is a test-fixture path)

_TIFF_ORACLE = f"""
    WITH p AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(5 + doc_id % 6 AS BIGINT) AS w,
               CAST(4 + doc_id % 5 AS BIGINT) AS h
        FROM documents WHERE doc_id < {TIFF_DOCS}),
    px AS (
        SELECT p.doc_id, p.w, p.h, x.x, y.y,
               CASE WHEN x.x < 3 THEN 9 ELSE (x.x * 19 + y.y * 5 + p.doc_id) % 256
                    END AS r,
               (x.x * 3 + y.y * 13 + p.doc_id * 7) % 256 AS g,
               CASE WHEN y.y = 0 THEN 123 ELSE (x.x + y.y * 17 + p.doc_id * 2) % 256
                    END AS b
        FROM p,
             UNNEST(generate_series(0, p.w - 1)) AS x(x),
             UNNEST(generate_series(0, p.h - 1)) AS y(y))
    SELECT doc_id AS media_id,
           w AS width,
           h AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(123 AS BIGINT) AS px_last_row0_b
    FROM px
    GROUP BY doc_id, w, h
    ORDER BY media_id
"""


_TIFF_SCHEMA = T.StructType(
    [
        T.StructField(c, T.LongType())
        for c in ("media_id", "width", "height", "channels", "sum_r", "sum_g", "sum_b",
                  "px_last_row0_b")
    ]
)


def _tiff_test_pixels(mid: int) -> tuple[int, int, bytes]:
    """Deterministic fixture with a flat-run region (x < 3 red channel and
    the y = 0 blue row) so PackBits actually emits repeat packets, not just
    literals — the compression path must be exercised, not merely present."""
    w, h = 5 + mid % 6, 4 + mid % 5
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px.append(9 if x < 3 else (x * 19 + y * 5 + mid) % 256)
            px.append((x * 3 + y * 13 + mid * 7) % 256)
            px.append(123 if y == 0 else (x + y * 17 + mid * 2) % 256)
    return w, h, bytes(px)


@register("multimodal_tiff_roundtrip", _TIFF_ORACLE,
          tags=("multimodal", "pipeline", "codec"))
def multimodal_tiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode -> decode real baseline TIFF 6.0 bytes per document over
    Arrow batches: multi-strip (RowsPerStrip=2, so strip reassembly is
    load-bearing) PackBits-compressed RGB, decoded back through the
    codec tier's magic-byte dispatch (decode_image — the same branch a
    crawl corpus' TIFF scans take through binary ingest). The fixture
    embeds flat runs so PackBits emits repeat packets; the oracle
    recomputes every channel sum and the constant blue top row from the
    generating formula in pure SQL. Scale shape: one mapInPandas stage,
    per-task streaming, zero shuffle (the WebP/GIF roundtrip precedent);
    probe set bounded because pure-Python run-length coding is the
    test-fixture path — production swaps a native codec behind the same
    batch signature."""

    def probe(mid: int) -> dict:
        from skinnerdb_spark.operators.codecs import decode_image
        from skinnerdb_spark.operators.tiff import encode_tiff

        w, h, px = _tiff_test_pixels(mid)
        dw, dh, dc, out = decode_image(encode_tiff(w, h, px, rows_per_strip=2, packbits=True))
        return {
            "media_id": mid,
            "width": dw,
            "height": dh,
            "channels": dc,
            "sum_r": sum(out[0::3]),
            "sum_g": sum(out[1::3]),
            "sum_b": sum(out[2::3]),
            "px_last_row0_b": out[2],
        }

    d = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < TIFF_DOCS)
    ids = d.select(F.col("doc_id").alias("media_id"))
    return _probe_docs(ids, _TIFF_SCHEMA, probe).orderBy("media_id")
