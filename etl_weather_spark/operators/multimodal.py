"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side design is fully real — schemas, partition-aware batch
processing via ``mapInPandas`` (Arrow-batched), typed metadata struct —
and since round 4 the PNG and WAV codecs are real too, implemented on
stdlib ``zlib``/``struct`` + numpy (:func:`decode_png`,
:func:`decode_wav`, plus encoders for test fixtures). Round 6 adds a
real baseline JPEG codec (operators/jpeg.py: huffman + dequant + exact
IDCT + YCbCr, 4:4:4/4:2:2/4:2:0, restart intervals). Formats beyond
PNG/JPEG/WAV (MP3, H.264, progressive JPEG …) would need codec
libraries (Pillow, ffmpeg) that are not in this container; those paths
degrade to the deterministic fake-feature extractor and are clearly
marked.

Scale notes:
- binary payloads ride in the same row as their metadata; Parquet stores
  them as byte arrays with page-level compression. Partition by
  (modality, shard) so a 100 TB corpus fans out evenly and a
  feature-extract job reads only the modality it needs.
- ``mapInPandas`` streams Arrow record batches — peak executor memory is
  one batch of payloads, not one partition; cap
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` when payloads are
  megabytes each.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: canonical multimodal schema: opaque payload + typed metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

#: schema when ``decode=True``: adds a per-row decode error so missing
#: codecs degrade to null features instead of failing the job
DECODED_FEATURE_SCHEMA = T.StructType(
    list(FEATURE_SCHEMA.fields) + [T.StructField("decode_error", T.StringType())]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: PNG color type → channel count (8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes):
    """REAL PNG decode with stdlib ``zlib`` + numpy only — no codec
    library. Returns pixels as a ``numpy.uint8`` array of shape
    ``(height, width, channels)``.

    Supports 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette →
    expanded to RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced — i.e.
    the canonical modern encoder output. All five scanline filters
    (None/Sub/Up/Average/Paeth) are unfiltered; Up is fully vectorized
    and Sub/Average/Paeth vectorize across the pixel's byte lanes
    (serial only in x, as the spec's data dependency requires).
    16-bit depth and Adam7 interlacing raise ``NotImplementedError``.

    Bit-exactness vs an independent pure-Python decoder is asserted in
    tests/test_streaming_multimodal.py across all filter types.
    """
    import struct
    import zlib

    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # body + 4-byte CRC
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    width, height, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8:
        raise NotImplementedError(f"PNG bit depth {depth} unsupported (8 only)")
    if interlace:
        raise NotImplementedError("Adam7 interlaced PNG unsupported")
    if color not in _PNG_CHANNELS:
        raise ValueError(f"PNG color type {color} invalid")
    channels = _PNG_CHANNELS[color]
    stride = width * channels
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data size mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    bpp = channels  # bytes per pixel at depth 8
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: serial in x
            cur = np.zeros(stride, np.int32)
            for x in range(width):
                lo = x * bpp
                sl = slice(lo, lo + bpp)
                a = cur[lo - bpp : lo] if x else np.zeros(bpp, np.int32)
                b = prev[sl]
                if ftype == 1:
                    cur[sl] = (line[sl] + a) & 0xFF
                elif ftype == 3:
                    cur[sl] = (line[sl] + ((a + b) >> 1)) & 0xFF
                else:
                    c = (
                        out[y - 1, lo - bpp : lo].astype(np.int32)
                        if (x and y)
                        else np.zeros(bpp, np.int32)
                    )
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                    cur[sl] = (line[sl] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = cur.astype(np.uint8)
    if color == 3:  # palette → RGB
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        return pal[out.reshape(height, width)]
    return out.reshape(height, width, channels)


def decode_wav(payload: bytes):
    """REAL WAV (RIFF PCM) decode — stdlib ``struct`` + numpy. Walks
    the chunk list (not just the canonical 44-byte layout), returns
    ``(samples, sample_rate)`` with samples shaped ``(n_frames,
    n_channels)`` as int32 (16/32-bit PCM verbatim; 8-bit unsigned
    re-centered to signed). Non-PCM formats raise
    ``NotImplementedError``."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("truncated WAV (missing fmt/data chunk)")
    audio_fmt, n_ch, rate, _brate, _align, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_fmt != 1:
        raise NotImplementedError(f"WAV format {audio_fmt} unsupported (PCM only)")
    if bits == 16:
        arr = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 32:
        arr = np.frombuffer(data, dtype="<i4").astype(np.int32)
    elif bits == 8:
        arr = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    else:
        raise NotImplementedError(f"WAV bit depth {bits} unsupported")
    n_frames = len(arr) // n_ch
    return arr[: n_frames * n_ch].reshape(n_frames, n_ch), rate


def encode_png(pixels, filter_types=None) -> bytes:
    """Minimal PNG encoder (fixture/round-trip side): 8-bit gray, RGB,
    or RGBA from a ``(h, w[, c])`` uint8 array. ``filter_types`` (one
    per scanline, default all-0) lets tests exercise every unfilter
    path in :func:`decode_png` with bit-exact round-trips."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    flat = arr.reshape(h, w * c).astype(np.int32)
    bpp = c
    lines = []
    for y in range(h):
        ftype = 0 if filter_types is None else filter_types[y]
        cur = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * c, np.int32)
        left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]]) if y else np.zeros(w * c, np.int32)
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            enc = (cur - left) & 0xFF
        elif ftype == 2:
            enc = (cur - prev) & 0xFF
        elif ftype == 3:
            enc = (cur - ((left + prev) >> 1)) & 0xFF
        elif ftype == 4:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = (cur - pred) & 0xFF
        else:
            raise ValueError(f"filter type {ftype}")
        lines.append(bytes([ftype]) + enc.astype(np.uint8).tobytes())

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    idat = zlib.compress(b"".join(lines))
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def encode_wav(samples, sample_rate: int, bits: int = 16) -> bytes:
    """Minimal PCM WAV encoder (fixture/round-trip side) from an
    ``(n_frames, n_channels)`` int array."""
    import struct

    import numpy as np

    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_ch = arr.shape[1]
    if bits == 16:
        data = arr.astype("<i2").tobytes()
    elif bits == 32:
        data = arr.astype("<i4").tobytes()
    elif bits == 8:
        data = (arr + 128).astype(np.uint8).tobytes()
    else:
        raise ValueError(f"bits {bits}")
    align = n_ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, n_ch, sample_rate, sample_rate * align, align, bits)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_media(payload: bytes, mime: str):
    """Dispatch REAL payload decode by content magic (mime is advisory).

    PNG → ``{"modality": "image", "pixels": (h,w,c) uint8}``;
    baseline JPEG (operators/jpeg.decode_jpeg, round 6) → same shape;
    RIFF/WAVE PCM → ``{"modality": "audio", "samples": (n,ch) int32,
    "sample_rate": hz}``. Formats that genuinely require codec
    libraries absent from this container (MP3, MP4, progressive JPEG,
    …) raise ``NotImplementedError`` — the extract_features(decode=True)
    path degrades those to a per-row ``decode_error``."""
    if payload[:8] == _PNG_SIG or payload[:3] == b"\xff\xd8\xff":
        # one image-dispatch rule for every caller (pixel_stats uses
        # the same helper), so format routing and the grayscale
        # (h, w, 1) convention can never diverge between paths
        return {"modality": "image", "pixels": _decode_image(payload)}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        samples, rate = decode_wav(payload)
        return {"modality": "audio", "samples": samples, "sample_rate": rate}
    raise NotImplementedError(
        f"no stdlib decoder for this payload (mime hint {mime!r}); "
        "MP3/MP4 need codec libraries not present in this container"
    )


def _fake_feature(payload: bytes) -> list[float]:
    """Deterministic stand-in for a decoded-content embedding: 16 floats
    derived from the sha256 digest. Keeps the pipeline testable and
    byte-for-byte reproducible without codec libraries."""
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def _content_feature(decoded: dict) -> list[float]:
    """Real content-derived feature from a DECODED payload: a 16-bin
    normalized intensity histogram (pixels for images, 16-bit sample
    amplitude for audio) — deterministic, content-addressed, and
    meaningful for near-dup blocking, unlike the sha-derived fake."""
    import numpy as np

    if decoded["modality"] == "image":
        vals = decoded["pixels"].ravel() // 16  # 256 → 16 bins
    else:
        s = decoded["samples"].ravel().astype(np.int64)
        vals = np.clip((s + 32768) // 4096, 0, FEATURE_DIM - 1)
    hist = np.bincount(vals, minlength=FEATURE_DIM)[:FEATURE_DIM]
    return (hist / max(int(hist.sum()), 1)).astype(float).tolist()


def extract_features(media: DataFrame, decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    Real plumbing, fake decode: byte length + content hash are genuine;
    ``feature`` comes from :func:`_fake_feature` where a real model
    would consume :func:`decode_media` output.

    With ``decode=True`` the real :func:`decode_media` path is attempted
    per row and degrades gracefully: a failed decode (missing codecs, a
    corrupt payload) yields a null ``feature`` plus a ``decode_error``
    string instead of failing the whole job — at 100 TB a single bad
    payload must never kill a stage.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            out = {
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "n_bytes": payloads.map(lambda p: 0 if p is None else len(p)).astype("int32"),
                "content_sha": payloads.map(
                    lambda p: None if p is None else hashlib.sha256(p).hexdigest()
                ),
            }
            if decode:
                feats, errs = [], []
                for payload, mime in zip(payloads, pdf["meta"].map(
                    lambda m: None if m is None else m.get("mime")
                )):
                    if payload is None:
                        feats.append(None)
                        errs.append("null_payload")
                        continue
                    try:
                        feats.append(_content_feature(decode_media(payload, mime)))
                        errs.append(None)
                    except Exception as ex:  # noqa: BLE001 — per-row isolation
                        feats.append(None)
                        errs.append(f"{type(ex).__name__}: {ex}"[:200])
                out["feature"] = feats
                out["decode_error"] = errs
            else:
                out["feature"] = payloads.map(
                    lambda p: None if p is None else _fake_feature(p)
                )
            yield pd.DataFrame(out)

    schema = DECODED_FEATURE_SCHEMA if decode else FEATURE_SCHEMA
    return media.mapInPandas(run, schema=schema)


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Video frame-sampling plan: one row per planned frame timestamp,
    one frame per second.

    Pure Spark (sequence + explode) — produces the work-list a decode
    stage would consume; the decode itself is the stub above.
    """
    frames = F.sequence(
        F.lit(0),
        F.greatest(F.coalesce(F.col("meta.duration_ms"), F.lit(0)) - 1, F.lit(0)),
        F.lit(1000),
    )
    return (
        media.filter(F.col("modality") == "video")
        .select("media_id", F.explode(frames).alias("frame_ms"))
    )


def extract_features_arrow(media: DataFrame) -> DataFrame:
    """`mapInArrow` variant of :func:`extract_features`: consumes raw
    ``pyarrow.RecordBatch``es, skipping the Arrow→pandas conversion.

    For binary-heavy columns the pandas hop costs a per-cell Python
    bytes materialization on BOTH edges; pure-Arrow batches keep the
    payload buffers zero-copy until the hash actually reads them. Same
    outputs bit-for-bit as the pandas path (asserted in tests); prefer
    this one when payloads dominate batch size.
    """
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            media_ids = batch.column("media_id")
            modalities = batch.column("modality")
            payloads = batch.column("payload").to_pylist()
            n_bytes = [0 if p is None else len(p) for p in payloads]
            shas = [
                None if p is None else hashlib.sha256(p).hexdigest()
                for p in payloads
            ]
            feats = [None if p is None else _fake_feature(p) for p in payloads]
            yield pa.RecordBatch.from_arrays(
                [
                    media_ids,
                    modalities,
                    pa.array(n_bytes, type=pa.int32()),
                    pa.array(shas, type=pa.string()),
                    pa.array(feats, type=pa.list_(pa.float32())),
                ],
                names=["media_id", "modality", "n_bytes", "content_sha", "feature"],
            )

    return media.mapInArrow(run, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL header metadata decode — pure byte arithmetic, no codec libraries.
# The container lacks Pillow/ffmpeg for pixel/sample decode (stubbed
# above), but container FORMAT headers are just bytes: PNG's IHDR chunk
# and WAV's RIFF fmt chunk parse with substring + hex→int conversion,
# entirely JVM-side Catalyst expressions (codegen'd, no Python).
# ---------------------------------------------------------------------------


def _be_uint(payload, offset_1based: int, nbytes: int):
    """Big-endian unsigned int from ``nbytes`` at 1-based ``offset``."""
    return F.conv(F.hex(F.substring(payload, offset_1based, nbytes)), 16, 10).cast(
        "long"
    )


def _le_uint(payload, offset_1based: int, nbytes: int):
    """Little-endian unsigned int: per-byte reads recombined by weight
    (hex() of a multi-byte slice would read big-endian)."""
    out = None
    for i in range(nbytes):
        b = F.conv(F.hex(F.substring(payload, offset_1based + i, 1)), 16, 10).cast(
            "long"
        ) * F.lit(256**i)
        out = b if out is None else out + b
    return out


def png_header_meta(payload):
    """struct(width, height, bit_depth, color_type) decoded from a PNG
    IHDR chunk — null when the 8-byte PNG signature doesn't match.

    Layout (PNG spec, RFC 2083): signature bytes 1-8, IHDR length 9-12,
    'IHDR' 13-16, width BE u32 @17, height BE u32 @21, bit depth @25,
    color type @26 (1-based offsets).
    """
    is_png = F.hex(F.substring(payload, 1, 8)) == F.lit("89504E470D0A1A0A")
    meta = F.struct(
        _be_uint(payload, 17, 4).cast("int").alias("width"),
        _be_uint(payload, 21, 4).cast("int").alias("height"),
        _be_uint(payload, 25, 1).cast("int").alias("bit_depth"),
        _be_uint(payload, 26, 1).cast("int").alias("color_type"),
    )
    return F.when(is_png & (F.length(payload) >= 26), meta)


def wav_header_meta(payload):
    """struct(n_channels, sample_rate, bits_per_sample, data_bytes,
    duration_ms) decoded from a canonical 44-byte RIFF/WAVE header —
    null when the RIFF/WAVE magics don't match.

    Layout (canonical PCM): 'RIFF' @1, 'WAVE' @9, 'fmt ' @13, channels
    LE u16 @23, sample rate LE u32 @25, block align LE u16 @33, bits
    LE u16 @35, 'data' @37, data size LE u32 @41 (1-based offsets).
    """
    is_wav = (
        (F.substring(payload, 1, 4).cast("string") == "RIFF")
        & (F.substring(payload, 9, 4).cast("string") == "WAVE")
        & (F.substring(payload, 37, 4).cast("string") == "data")
    )
    n_channels = _le_uint(payload, 23, 2).cast("int")
    sample_rate = _le_uint(payload, 25, 4).cast("int")
    bits = _le_uint(payload, 35, 2).cast("int")
    data_bytes = _le_uint(payload, 41, 4).cast("long")
    bytes_per_sec = (
        sample_rate.cast("long") * n_channels.cast("long") * (bits / F.lit(8)).cast("long")
    )
    duration_ms = F.when(
        bytes_per_sec > 0, (data_bytes * 1000 / bytes_per_sec).cast("int")
    )
    meta = F.struct(
        n_channels.alias("n_channels"),
        sample_rate.alias("sample_rate"),
        bits.alias("bits_per_sample"),
        data_bytes.alias("data_bytes"),
        duration_ms.alias("duration_ms"),
    )
    return F.when(is_wav & (F.length(payload) >= 44), meta)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_sqsum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def _decode_image(payload: bytes):
    """Magic-dispatched image decode: PNG via :func:`decode_png`, baseline
    JPEG via operators/jpeg.decode_jpeg (grayscale normalized to
    ``(h, w, 1)``)."""
    if payload[:3] == b"\xff\xd8\xff":
        from etl_weather_spark.operators.jpeg import decode_jpeg

        px = decode_jpeg(payload)
        return px[:, :, None] if px.ndim == 2 else px
    return decode_png(payload)


def pixel_stats(media: DataFrame) -> DataFrame:
    """Per-image pixel statistics through the REAL decode path
    (:func:`decode_png` or the baseline JPEG decoder, by content magic)
    — Arrow-batched ``mapInPandas``, one decode per payload, all
    stats as EXACT integers (sum / sum-of-squares / min / max over the
    uint8 pixel bytes) so a SQL oracle that regenerates the same pixels
    can match hash-for-hash with no float drift.

    Scale: decode is per-row CPU with no shuffle — partition count =
    parallelism; a 100 TB image corpus fans out embarrassingly. Rows
    whose payload fails to decode are dropped (the audit query for
    failures is extract_features(decode=True).decode_error)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    px = _decode_image(bytes(payload))
                except Exception:  # noqa: BLE001 — per-row isolation
                    continue
                flat = px.reshape(-1).astype("int64")
                rows.append(
                    {
                        "media_id": mid,
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "channels": px.shape[2],
                        "px_sum": int(flat.sum()),
                        "px_sqsum": int((flat * flat).sum()),
                        "px_min": int(flat.min()),
                        "px_max": int(flat.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in PIXEL_STATS_SCHEMA.fields],
            )

    return media.mapInPandas(run, schema=PIXEL_STATS_SCHEMA)


def resize_box(pixels, factor: int = 2):
    """Exact box-downsample of an ``(h, w, c)`` uint8 pixel array by an
    integer ``factor``: each ``factor×factor`` block becomes one output
    pixel whose value is the FLOOR of the block mean (pure integer
    arithmetic, so a SQL oracle can reproduce it bit-for-bit). Trailing
    rows/columns that do not fill a whole block are cropped, matching
    the usual strided-pooling convention.

    Vectorized: one reshape + two axis sums per image, no Python loop
    over pixels.
    """
    import numpy as np

    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    h, w, c = pixels.shape
    h2, w2 = h // factor, w // factor
    if h2 == 0 or w2 == 0:
        return np.zeros((h2, w2, c), dtype=np.uint8)
    block = (
        pixels[: h2 * factor, : w2 * factor]
        .astype(np.int64)
        .reshape(h2, factor, w2, factor, c)
    )
    return (block.sum(axis=(1, 3)) // (factor * factor)).astype(np.uint8)


def resize_area(pixels, out_h: int, out_w: int):
    """Exact area-weighted resize of an ``(h, w, c)`` uint8 pixel array
    to an ARBITRARY ``(out_h, out_w)`` — the fractional-ratio conform
    real pipelines need (fixed target resolutions are rarely integer
    ratios of the source).

    Semantics: output pixel (i, j) averages the source rectangle it
    covers, weighting partially-overlapped source pixels by overlap
    area. All arithmetic is integer-exact: per-axis overlap lengths are
    computed on a grid refined ``out_h`` (resp. ``out_w``) times, so
    the per-pixel weight total is exactly ``h*w`` and the result is
    ``floor(Σ wr·wc·px / (h·w))`` — reproducible bit-for-bit by a SQL
    oracle. Reduces to :func:`resize_box` (sans crop) when the ratio is
    integer. Vectorized: two integer weight matrices + one einsum.
    """
    import numpy as np

    if out_h < 1 or out_w < 1:
        raise ValueError(f"target must be >= 1x1, got {out_h}x{out_w}")
    h, w, _c = pixels.shape

    def weights(n_in: int, n_out: int):
        # (n_out, n_in) integer overlap of output cell i = [i*n_in,
        # (i+1)*n_in) with source cell r = [r*n_out, (r+1)*n_out) on the
        # n_in*n_out-fine grid; each row sums to exactly n_in
        i = np.arange(n_out, dtype=np.int64)[:, None]
        r = np.arange(n_in, dtype=np.int64)[None, :]
        lo = np.maximum(i * n_in, r * n_out)
        hi = np.minimum((i + 1) * n_in, (r + 1) * n_out)
        return np.maximum(hi - lo, 0)

    acc = np.einsum(
        "ir,rsc,js->ijc",
        weights(h, out_h),
        pixels.astype(np.int64),
        weights(w, out_w),
    )
    return (acc // (h * w)).astype(np.uint8)


def resample_linear(samples, in_rate: int, out_rate: int):
    """Exact linear-interpolation resample of an ``(n, c)`` int PCM
    array from ``in_rate`` to ``out_rate`` Hz — the fractional-ratio
    rate conform (44.1 kHz → 16 kHz is 160/441, never an integer
    decimation).

    Output frame k sits at source position ``k·in_rate/out_rate``
    (exact rational, denominator ``out_rate``); its value is
    ``floor((s[i]·(out_rate−frac) + s[i+1]·frac) / out_rate)`` with
    floor-toward-−∞ division, the same oracle-stability contract as
    :func:`decimate_frames`. Output length spans the full input:
    ``(n−1)·out_rate//in_rate + 1`` frames.
    """
    import numpy as np

    if in_rate < 1 or out_rate < 1:
        raise ValueError(f"rates must be >= 1, got {in_rate}->{out_rate}")
    n, c = samples.shape
    if n == 0:
        return np.zeros((0, c), dtype=np.int64)
    out_n = (n - 1) * out_rate // in_rate + 1
    k = np.arange(out_n, dtype=np.int64)
    num = k * in_rate
    i = num // out_rate
    frac = num - i * out_rate
    i2 = np.minimum(i + 1, n - 1)
    s = samples.astype(np.int64)
    val = s[i] * (out_rate - frac)[:, None] + s[i2] * frac[:, None]
    return np.floor_divide(val, out_rate)


RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_sqsum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def resized_pixel_stats(media: DataFrame) -> DataFrame:
    """Decode → :func:`resize_box` (2×2 blocks) → exact-integer stats, Arrow-batched:
    the resize stage of a multimodal training-data pipeline (thumbnail /
    fixed-resolution conform before feature extraction), end-to-end on
    the REAL PNG codec. Same oracle-stability contract as
    :func:`pixel_stats`: every output is integer, so a SQL oracle that
    regenerates the source pixels and floor-averages the same blocks
    matches hash-for-hash.

    Scale: per-row CPU, no shuffle — at 100 TB this fans out by input
    split exactly like decode; the resized payload is strictly smaller
    than the input so the stage shrinks the corpus it forwards.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    px = decode_png(bytes(payload))
                except Exception:  # noqa: BLE001 — per-row isolation
                    continue
                out = resize_box(px, 2)
                flat = out.reshape(-1).astype("int64")
                if flat.size == 0:
                    continue
                rows.append(
                    {
                        "media_id": mid,
                        "out_width": out.shape[1],
                        "out_height": out.shape[0],
                        "channels": out.shape[2],
                        "px_sum": int(flat.sum()),
                        "px_sqsum": int((flat * flat).sum()),
                        "px_min": int(flat.min()),
                        "px_max": int(flat.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in RESIZE_STATS_SCHEMA.fields],
            )

    return media.mapInPandas(run, schema=RESIZE_STATS_SCHEMA)


def area_resized_pixel_stats(media: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Decode → :func:`resize_area` → exact-integer stats: the
    fixed-target-resolution conform stage (fractional ratios included),
    end-to-end on the real PNG codec. Same Arrow-batched per-row shape
    and oracle-stability contract as :func:`resized_pixel_stats`.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    px = decode_png(bytes(payload))
                except Exception:  # noqa: BLE001 — per-row isolation
                    continue
                out = resize_area(px, out_h, out_w)
                flat = out.reshape(-1).astype("int64")
                if flat.size == 0:
                    continue
                rows.append(
                    {
                        "media_id": mid,
                        "out_width": out.shape[1],
                        "out_height": out.shape[0],
                        "channels": out.shape[2],
                        "px_sum": int(flat.sum()),
                        "px_sqsum": int((flat * flat).sum()),
                        "px_min": int(flat.min()),
                        "px_max": int(flat.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in RESIZE_STATS_SCHEMA.fields],
            )

    return media.mapInPandas(run, schema=RESIZE_STATS_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("s_sum", T.LongType()),
        T.StructField("s_sqsum", T.LongType()),
        T.StructField("s_min", T.IntegerType()),
        T.StructField("s_max", T.IntegerType()),
    ]
)


def audio_stats(media: DataFrame) -> DataFrame:
    """Per-clip PCM sample statistics through the REAL
    :func:`decode_wav` path — exact-integer aggregates for the same
    oracle-stability reason as :func:`pixel_stats`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    samples, rate = decode_wav(bytes(payload))
                except Exception:  # noqa: BLE001
                    continue
                flat = samples.reshape(-1).astype("int64")
                rows.append(
                    {
                        "media_id": mid,
                        "n_frames": int(samples.shape[0]),
                        "n_channels": int(samples.shape[1]),
                        "sample_rate": int(rate),
                        "s_sum": int(flat.sum()),
                        "s_sqsum": int((flat * flat).sum()),
                        "s_min": int(flat.min()),
                        "s_max": int(flat.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in AUDIO_STATS_SCHEMA.fields],
            )

    return media.mapInPandas(run, schema=AUDIO_STATS_SCHEMA)


def decimate_frames(samples, factor: int = 2):
    """Exact integer-factor audio downsample of an ``(n_frames,
    n_channels)`` int sample array: each run of ``factor`` consecutive
    frames becomes one output frame whose per-channel value is the
    FLOOR of the run mean (anti-aliased box decimation in pure integer
    arithmetic — same oracle-stability contract as :func:`resize_box`).
    Trailing frames that do not fill a run are cropped.
    """
    import numpy as np

    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    n, c = samples.shape
    n2 = n // factor
    if n2 == 0:
        return np.zeros((0, c), dtype=np.int64)
    block = samples[: n2 * factor].astype(np.int64).reshape(n2, factor, c)
    # floor-toward-negative-infinity mean, so negative PCM values round
    # the same way SQL's integer // does
    return np.floor_divide(block.sum(axis=1), factor)


DECIMATE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("out_frames", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("out_rate", T.IntegerType()),
        T.StructField("s_sum", T.LongType()),
        T.StructField("s_sqsum", T.LongType()),
        T.StructField("s_min", T.IntegerType()),
        T.StructField("s_max", T.IntegerType()),
    ]
)


def decimated_audio_stats(media: DataFrame) -> DataFrame:
    """Decode → :func:`decimate_frames` → exact-integer stats: the
    resample-to-target-rate stage of an audio training-data pipeline
    (e.g. 16 kHz → 8 kHz conform before featurization), end-to-end on
    the REAL WAV codec. Arrow-batched ``mapInPandas``, per-row CPU, no
    shuffle — fans out by input split at 100 TB like the other media
    stages, and emits 2× fewer frames than it reads.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    samples, rate = decode_wav(bytes(payload))
                except Exception:  # noqa: BLE001 — per-row isolation
                    continue
                out = decimate_frames(samples, 2)
                flat = out.reshape(-1)
                if flat.size == 0:
                    continue
                rows.append(
                    {
                        "media_id": mid,
                        "out_frames": int(out.shape[0]),
                        "n_channels": int(out.shape[1]),
                        "out_rate": int(rate) // 2,
                        "s_sum": int(flat.sum()),
                        "s_sqsum": int((flat * flat).sum()),
                        "s_min": int(flat.min()),
                        "s_max": int(flat.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in DECIMATE_STATS_SCHEMA.fields],
            )

    return media.mapInPandas(run, schema=DECIMATE_STATS_SCHEMA)


def resampled_audio_stats(media: DataFrame, out_rate: int) -> DataFrame:
    """Decode → :func:`resample_linear` → exact-integer stats: the
    conform-to-target-rate stage for FRACTIONAL ratios (every clip
    lands on ``out_rate`` regardless of its native rate). Same
    Arrow-batched per-row shape and oracle contract as
    :func:`decimated_audio_stats`.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    samples, rate = decode_wav(bytes(payload))
                except Exception:  # noqa: BLE001 — per-row isolation
                    continue
                out = resample_linear(samples, int(rate), out_rate)
                flat = out.reshape(-1)
                if flat.size == 0:
                    continue
                rows.append(
                    {
                        "media_id": mid,
                        "out_frames": int(out.shape[0]),
                        "n_channels": int(out.shape[1]),
                        "out_rate": out_rate,
                        "s_sum": int(flat.sum()),
                        "s_sqsum": int((flat * flat).sum()),
                        "s_min": int(flat.min()),
                        "s_max": int(flat.max()),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in DECIMATE_STATS_SCHEMA.fields],
            )

    return media.mapInPandas(run, schema=DECIMATE_STATS_SCHEMA)


def probe_media_meta(media: DataFrame) -> DataFrame:
    """media + ``png_meta``/``wav_meta`` struct columns — the real
    (codec-free) slice of metadata extraction: format headers parse as
    plain Catalyst byte arithmetic, so this runs JVM-side at full scan
    speed; only pixel/sample DECODE needs the stubbed codec path.
    """
    p = F.col("payload")
    return media.withColumns(
        {"png_meta": png_header_meta(p), "wav_meta": wav_header_meta(p)}
    )


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sig_hi", T.LongType()),
        T.StructField("sig_lo", T.LongType()),
    ]
)


def dhash_bits(pixels):
    """64-bit difference hash (dHash) of a decoded image, exact-integer:
    channel-floor-mean to grayscale, block-floor-mean down to an
    8 x 9 grid (width/height must divide evenly — run
    :func:`resize_box` first otherwise), then bit k = r*8+c set iff
    grid[r][c] > grid[r][c+1]. Returns ``(sig_hi, sig_lo)`` as the two
    unsigned 32-bit halves (band-join-ready for
    operators/dedup.simhash_band_pairs). Every step is floor integer
    arithmetic so a SQL oracle reproduces the hash bit-for-bit.
    """
    import numpy as np

    h, w, c = pixels.shape
    if h % 8 or w % 9:
        raise ValueError(f"dims {h}x{w} not divisible by grid 8x9")
    gray = pixels.astype(np.int64).sum(axis=2) // c
    bh, bw = h // 8, w // 9
    m = gray.reshape(8, bh, 9, bw).sum(axis=(1, 3)) // (bh * bw)
    bits = (m[:, :-1] > m[:, 1:]).astype(np.int64).reshape(-1)  # k = r*8 + c
    ks = np.arange(bits.size, dtype=np.int64)
    sig_lo = int((bits[ks < 32] << ks[ks < 32]).sum())
    sig_hi = int((bits[ks >= 32] << (ks[ks >= 32] - 32)).sum())
    return sig_hi, sig_lo


def image_dhash(media: DataFrame) -> DataFrame:
    """(media_id, sig_hi, sig_lo) — perceptual dHash per image, decode
    and hash fused in ONE Arrow-batched ``mapInPandas`` pass (pixels
    never leave the task that decoded them; only 2 longs per image
    shuffle afterwards). Undecodable or non-grid-divisible rows are
    dropped (per-row isolation, same contract as the stats extractors).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    hi, lo = dhash_bits(decode_png(bytes(payload)))
                except Exception:  # noqa: BLE001 — per-row isolation
                    continue
                rows.append({"media_id": mid, "sig_hi": hi, "sig_lo": lo})
            yield pd.DataFrame(
                rows, columns=[f.name for f in DHASH_SCHEMA.fields]
            )

    return media.mapInPandas(run, schema=DHASH_SCHEMA)


def audio_envelope_fingerprint(media: DataFrame, n_bands: int = 64) -> DataFrame:
    """Energy-ENVELOPE audio fingerprint through the REAL
    :func:`decode_wav` path — the Shazam-family idea reduced to its
    deterministic core: channel-folded |PCM| band energies, binarized
    by consecutive-band comparison (bit k = E_{k+1} > E_k), packed into
    one integer. The delta-sign envelope is invariant to exact
    amplitude scaling and to the sample RATE header (it hashes the
    waveform shape, not the container metadata), so re-encoded or
    gain-adjusted copies of a clip collide — which is exactly what an
    audio near-dup screen wants. Returns (media_id, n_frames,
    sample_rate, fp) with fp in [0, 2^(n_bands-1)).

    ``n_bands`` defaults to 64 — a 63-bit key space. The old 16-band
    default was a 15-bit space (32,768 values): at corpus scale the
    downstream fp equi-join collides UNRELATED clips by birthday
    pressure alone (1B clips ⇒ ~30k per bucket ⇒ ~4.6e8 false pairs
    per bucket), the hot-bucket quadratic this engine eliminates
    everywhere else. At 63 bits, false collisions need ~2^31 clips to
    appear at all; residual hot buckets are TRUE duplicate clusters,
    which :func:`audio_envelope_pairs` bounds with a star-edge cap.
    ``n_bands`` must be 2..64 so fp packs into one signed 64-bit long.

    Visibility contract: undecodable payloads (corrupt/None bytes) are
    SKIPPED, but clips that decode with fewer than ``n_bands`` frames
    emit their row with a NULL ``fp`` — short clips stay visible to a
    dedup audit instead of silently vanishing from the output. Frames
    that do not divide evenly truncate to ``n_bands`` equal bands
    (tail samples dropped) so every clip yields the same bit width.
    Exact-integer arithmetic end to end (int64 abs-sums, integer
    comparisons) — the same oracle-stability discipline as
    :func:`pixel_stats` / :func:`audio_stats`.

    Scale: one Arrow-batched decode pass per clip (the codec cost IS
    the floor, as with every real-decode path here); the fingerprint
    is 8 bytes per clip, and dedup downstream is an equi-join on fp —
    never signal-to-signal comparison.
    """
    if not 2 <= n_bands <= 64:
        raise ValueError(
            f"n_bands={n_bands}: need 2 <= n_bands <= 64 — the "
            "(n_bands-1)-bit fingerprint must fit a signed 64-bit long"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                try:
                    samples, rate = decode_wav(bytes(payload))
                except Exception:  # noqa: BLE001
                    continue
                mono = np.abs(samples.astype("int64")).sum(axis=1)
                band_len = len(mono) // n_bands
                if band_len == 0:
                    # decodable but too short to band: visible NULL fp
                    rows.append(
                        {
                            "media_id": mid,
                            "n_frames": int(samples.shape[0]),
                            "sample_rate": int(rate),
                            "fp": None,
                        }
                    )
                    continue
                e = (
                    mono[: band_len * n_bands]
                    .reshape(n_bands, band_len)
                    .sum(axis=1)
                )
                fp = 0
                for k in range(n_bands - 1):
                    if int(e[k + 1]) > int(e[k]):
                        fp |= 1 << k
                rows.append(
                    {
                        "media_id": mid,
                        "n_frames": int(samples.shape[0]),
                        "sample_rate": int(rate),
                        "fp": fp,
                    }
                )
            pdf_out = pd.DataFrame(
                rows, columns=["media_id", "n_frames", "sample_rate", "fp"]
            )
            # object→nullable-int so Arrow ships int64+null, not float64
            pdf_out["fp"] = pdf_out["fp"].astype("Int64")
            yield pdf_out

    return media.mapInPandas(
        run, schema="media_id long, n_frames long, sample_rate long, fp long"
    )


def audio_envelope_pairs(
    fps: DataFrame,
    *,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate dup pairs (id_a, id_b, fp) from envelope fingerprints,
    with the same hot-bucket discipline as the simhash banding path
    (operators/dedup.simhash_band_candidates): NULL fps (short clips)
    are excluded from pairing, buckets with f ≤ ``hot_bucket_cap``
    expand to all f·(f-1)/2 pairs, and buckets above the cap emit STAR
    edges to the bucket's smallest id instead — f-1 rows carrying the
    identical connected-components structure (every member reachable
    through the hub), so cluster extraction downstream is unchanged
    while no bucket ever goes quadratic. With a 63-bit fingerprint a
    hot bucket is a true duplicate cluster (birthday collisions need
    ~2^31 clips), so the star form loses nothing a dedup pass needs.

    Scale: one (fp, count, min_id) agg + one shuffle equi-join on fp —
    the fp key space is 2^63 so the freq table is corpus-sized and is
    deliberately NOT broadcast (unlike simhash's structurally-bounded
    262k band table).
    """
    clean = fps.filter(F.col("fp").isNotNull())
    a = clean.select(F.col("media_id").alias("id_a"), "fp")
    b = clean.select(F.col("media_id").alias("id_b"), "fp")
    if hot_bucket_cap is None:
        return a.join(b, "fp").filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", "fp"
        )
    freq = clean.groupBy("fp").agg(
        F.count(F.lit(1)).alias("f"), F.min("media_id").alias("bmin")
    )
    cold = (
        a.join(freq.filter(F.col("f") <= hot_bucket_cap).select("fp"), "fp")
        .join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp")
    )
    hot = (
        clean.join(
            freq.filter(F.col("f") > hot_bucket_cap).select("fp", "bmin"), "fp"
        )
        .filter(F.col("media_id") != F.col("bmin"))
        .select(
            F.col("bmin").alias("id_a"),
            F.col("media_id").alias("id_b"),
            "fp",
        )
    )
    return cold.unionByName(hot)
