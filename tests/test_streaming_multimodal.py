"""Streaming daily agg matches batch; multimodal plumbing round-trips."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    frame_sample_plan,
)
from etl_weather_spark.streaming.daily_stream import (
    daily_stream_agg,
    read_event_stream,
    run_available_now,
)

EVENTS = [
    {"event_id": 1, "ts": "2024-01-01T01:00:00", "user_id": 1, "event_type": "view", "value": 10.0, "props": "{}"},
    {"event_id": 2, "ts": "2024-01-01T05:00:00", "user_id": 2, "event_type": "view", "value": 20.0, "props": "{}"},
    {"event_id": 3, "ts": "2024-01-02T01:00:00", "user_id": 1, "event_type": "click", "value": 5.0, "props": "{}"},
]


def test_streaming_daily_matches_batch(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    (src / "part1.json").write_text("\n".join(json.dumps(e) for e in EVENTS))

    stream = read_event_stream(spark, str(src))
    assert stream.isStreaming
    rows = run_available_now(daily_stream_agg(stream), query_name="t_daily_stream")
    by_date = {str(r.date): r for r in rows}
    assert by_date["2024-01-01"].vmin == 10.0
    assert by_date["2024-01-01"].vmax == 20.0
    assert by_date["2024-01-01"].vsum == 30.0
    assert by_date["2024-01-01"].vavg == 15.0
    assert by_date["2024-01-02"].n == 1


def test_multimodal_features(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", ("image/png", 4, 4, None, None)),
        (2, "audio", b"RIFF fake wav", ("audio/wav", None, None, 2500, 16000)),
        (3, "video", b"\x00\x00ftyp fake mp4", ("video/mp4", 640, 480, 3500, None)),
        (4, "image", None, ("image/png", 1, 1, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media)
    got = {r.media_id: r for r in feats.collect()}
    assert got[1].n_bytes == len(b"\x89PNG fake bytes")
    assert len(got[1].feature) == 16
    assert all(0.0 <= v <= 1.0 for v in got[1].feature)
    # deterministic: same payload → same feature/hash
    feats2 = {r.media_id: r for r in extract_features(media).collect()}
    assert feats2[1].content_sha == got[1].content_sha
    assert feats2[1].feature == got[1].feature
    # null payload survives with null feature
    assert got[4].n_bytes == 0 and got[4].feature is None


def test_decode_dispatch_and_unsupported_formats():
    from etl_weather_spark.operators.multimodal import decode_media

    # formats with no stdlib decoder (MP3/MP4) stay explicitly unsupported
    with pytest.raises(NotImplementedError):
        decode_media(b"ID3\x04\x00 mp3 frames", "audio/mpeg")
    # JPEG magic routes to the REAL baseline decoder (round 6); a
    # truncated stream fails loudly rather than claiming unsupported
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff\xe0jfif-ish", "image/jpeg")
    # a payload CLAIMING to be PNG but with a broken signature is not
    # silently accepted either
    with pytest.raises(NotImplementedError):
        decode_media(b"x", "image/png")
    # a real PNG signature with garbage body fails loudly, not silently
    with pytest.raises(ValueError):
        decode_media(b"\x89PNG\r\n\x1a\n" + b"garbage body not chunks", "image/png")


def test_decode_true_degrades_gracefully(spark):
    """decode=True: a VALID PNG yields a real content feature; corrupt
    and unsupported payloads survive with a null feature + decode_error
    instead of failing the job."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import encode_png

    px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    rows = [
        (1, "image", encode_png(px), ("image/png", 4, 4, None, None)),
        # MP3: no stdlib decoder exists (JPEG decodes for real since r6)
        (2, "audio", b"ID3\x04\x00 mp3 frames", ("audio/mpeg", None, None, 1000, None)),
        (3, "image", b"\x89PNG\r\n\x1a\ncorrupt body", ("image/png", 4, 4, None, None)),
        (4, "image", None, ("image/png", 1, 1, None, None)),
        # truncated JPEG: real decoder raises ValueError, row survives
        (5, "image", b"\xff\xd8\xff\xe0 jpeg bytes", ("image/jpeg", 4, 4, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in extract_features(media, decode=True).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # valid PNG: real 16-bin histogram feature — values 0..47 land in bins 0-2
    assert got[1].decode_error is None
    feat = got[1].feature
    assert len(feat) == 16 and abs(sum(feat) - 1.0) < 1e-6  # float32 storage
    assert sum(feat[:3]) > 0.99
    # unsupported format → NotImplementedError, corrupt → ValueError
    assert got[2].feature is None
    assert got[2].decode_error.startswith("NotImplementedError")
    assert got[3].feature is None
    assert got[3].decode_error.startswith("ValueError")
    assert got[3].content_sha is not None  # hash path still genuine
    assert got[4].decode_error == "null_payload"
    assert got[5].feature is None
    assert got[5].decode_error.startswith("ValueError")


def _reference_decode_png(payload):
    """Independent PURE-PYTHON PNG decoder (no numpy) used only to
    cross-check decode_png bit-for-bit — deliberately written with a
    different structure (per-byte loops, int lists)."""
    import struct
    import zlib

    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, {}
    idat = b""
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ct = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if ct == b"IDAT":
            idat += body
        else:
            chunks[ct] = body
    w, h, depth, color, _, _, _ = struct.unpack(">IIBBBBB", chunks[b"IHDR"])
    assert depth == 8
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    raw = zlib.decompress(idat)
    stride = w * nch
    out = []
    prev = [0] * stride
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = list(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        cur = [0] * stride
        for x in range(stride):
            a = cur[x - nch] if x >= nch else 0
            b = prev[x]
            c = prev[x - nch] if x >= nch else 0
            if ft == 0:
                v = line[x]
            elif ft == 1:
                v = line[x] + a
            elif ft == 2:
                v = line[x] + b
            elif ft == 3:
                v = line[x] + ((a + b) // 2)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = line[x] + pred
            cur[x] = v & 0xFF
        out.append(cur)
        prev = cur
    return out, w, h, nch, chunks.get(b"PLTE")


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_filters_bit_exact(channels):
    """encode → decode round-trips bit-exactly for every scanline
    filter type (None/Sub/Up/Average/Paeth) and channel count, and
    decode_png agrees byte-for-byte with an independent pure-Python
    reference decoder."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.RandomState(42 + channels)
    px = rng.randint(0, 256, size=(7, 5, channels), dtype=np.uint8).squeeze()
    if channels == 1:
        px = px.reshape(7, 5)
    # one scanline per filter type, then wrap around
    filters = [y % 5 for y in range(7)]
    payload = encode_png(px, filter_types=filters)
    got = decode_png(payload)
    expect = px if px.ndim == 3 else px[:, :, None]
    assert got.shape == expect.shape
    assert (got == expect).all()
    ref_rows, w, h, nch, _ = _reference_decode_png(payload)
    assert np.array_equal(
        np.array(ref_rows, dtype=np.uint8).reshape(h, w, nch), got
    )


def test_png_palette_decode():
    """Color type 3 (palette) expands through PLTE to RGB."""
    import struct
    import zlib

    import numpy as np

    from etl_weather_spark.operators.multimodal import decode_png

    # hand-build a 2x2 palette PNG: indices [[0,1],[1,0]]
    pal = bytes([255, 0, 0, 0, 0, 255])  # red, blue
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = bytes([0, 0, 1, 0, 1, 0])  # filter0 + idx row, filter0 + idx row
    idat = zlib.compress(raw)

    def chunk(ct, body):
        return (
            struct.pack(">I", len(body))
            + ct
            + body
            + struct.pack(">I", zlib.crc32(ct + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", pal)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )
    got = decode_png(payload)
    assert got.shape == (2, 2, 3)
    assert np.array_equal(got[0, 0], [255, 0, 0])
    assert np.array_equal(got[0, 1], [0, 0, 255])
    assert np.array_equal(got[1, 0], [0, 0, 255])
    assert np.array_equal(got[1, 1], [255, 0, 0])


@pytest.mark.parametrize("bits,n_ch", [(16, 1), (16, 2), (8, 1), (32, 2)])
def test_wav_roundtrip_bit_exact(bits, n_ch):
    import numpy as np

    from etl_weather_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(bits + n_ch)
    lo, hi = {8: (-128, 128), 16: (-32768, 32768), 32: (-(2**31), 2**31)}[bits]
    samples = rng.randint(lo, hi, size=(50, n_ch))
    payload = encode_wav(samples, 16000, bits=bits)
    got, rate = decode_wav(payload)
    assert rate == 16000
    assert got.shape == (50, n_ch)
    assert np.array_equal(got, samples)
    # stdlib `wave` cross-check for the canonical 16-bit case
    if bits == 16:
        import io
        import wave

        wf = wave.open(io.BytesIO(payload))
        assert wf.getframerate() == 16000
        assert wf.getnchannels() == n_ch
        assert wf.getsampwidth() == 2
        raw = wf.readframes(50)
        assert np.array_equal(
            np.frombuffer(raw, "<i2").reshape(50, n_ch), samples
        )


def test_pixel_and_audio_stats_distributed(spark):
    """pixel_stats / audio_stats: real decode inside mapInPandas with
    exact-integer aggregates; undecodable rows dropped, not fatal."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import (
        audio_stats,
        encode_png,
        encode_wav,
        pixel_stats,
    )

    px = np.arange(6 * 4 * 3, dtype=np.uint8).reshape(6, 4, 3) * 3 % 256
    wav = np.arange(-50, 50, dtype=np.int64).reshape(50, 2) * 100
    rows = [
        (1, "image", encode_png(px, filter_types=[4, 3, 2, 1, 0, 4]), ("image/png", 4, 6, None, None)),
        (2, "audio", encode_wav(wav, 8000), ("audio/wav", None, None, None, 8000)),
        (3, "image", b"not an image", ("image/png", None, None, None, None)),
        (4, "image", None, ("image/png", None, None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    ps = {r.media_id: r for r in pixel_stats(media).collect()}
    assert set(ps) == {1}
    flat = px.reshape(-1).astype(np.int64)
    assert ps[1].width == 4 and ps[1].height == 6 and ps[1].channels == 3
    assert ps[1].px_sum == int(flat.sum())
    assert ps[1].px_sqsum == int((flat * flat).sum())
    assert ps[1].px_min == int(flat.min()) and ps[1].px_max == int(flat.max())
    au = {r.media_id: r for r in audio_stats(media).collect()}
    assert set(au) == {2}
    aflat = wav.reshape(-1)
    assert au[2].n_frames == 50 and au[2].n_channels == 2
    assert au[2].sample_rate == 8000
    assert au[2].s_sum == int(aflat.sum())
    assert au[2].s_sqsum == int((aflat * aflat).sum())


def test_resize_box_matches_naive_loop():
    """resize_box ≡ an independent per-block double loop (floor mean),
    including trailing-edge cropping and factor 1 identity."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import resize_box

    rng = np.random.RandomState(7)
    for h, w, c, f in [(7, 5, 3, 2), (8, 8, 1, 2), (9, 10, 4, 3), (6, 4, 3, 1)]:
        px = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
        got = resize_box(px, f)
        h2, w2 = h // f, w // f
        assert got.shape == (h2, w2, c) and got.dtype == np.uint8
        for y in range(h2):
            for x in range(w2):
                for ch in range(c):
                    block = px[y * f:(y + 1) * f, x * f:(x + 1) * f, ch]
                    assert got[y, x, ch] == int(block.astype(np.int64).sum()) // (f * f)


def test_resized_pixel_stats_distributed(spark):
    """decode → resize_box(2) → exact stats inside mapInPandas; the
    expected values come from an independent numpy computation on the
    pre-encode pixels."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import (
        encode_png,
        resize_box,
        resized_pixel_stats,
    )

    px = (np.arange(6 * 4 * 3, dtype=np.int64) * 11 % 256).astype(np.uint8).reshape(6, 4, 3)
    rows = [
        (1, "image", encode_png(px, filter_types=[0, 1, 2, 3, 4, 0]), ("image/png", 4, 6, None, None)),
        (2, "image", b"junk", ("image/png", None, None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in resized_pixel_stats(media).collect()}
    assert set(got) == {1}
    exp = resize_box(px, 2).reshape(-1).astype(np.int64)
    r = got[1]
    assert (r.out_width, r.out_height, r.channels) == (2, 3, 3)
    assert r.px_sum == int(exp.sum())
    assert r.px_sqsum == int((exp * exp).sum())
    assert r.px_min == int(exp.min()) and r.px_max == int(exp.max())


def test_decimate_frames_matches_naive_loop():
    """decimate_frames ≡ an independent per-run double loop with exact
    floor-toward-−∞ means, including negative PCM values and cropping."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import decimate_frames

    rng = np.random.RandomState(11)
    for n, c, f in [(7, 1, 2), (10, 2, 2), (9, 2, 3), (5, 1, 1)]:
        s = rng.randint(-32768, 32768, size=(n, c), dtype=np.int64)
        got = decimate_frames(s, f)
        n2 = n // f
        assert got.shape == (n2, c)
        for fr in range(n2):
            for ch in range(c):
                run = s[fr * f:(fr + 1) * f, ch]
                assert got[fr, ch] == int(run.sum()) // f  # python // floors


def test_resize_area_matches_fraction_reference():
    """resize_area ≡ an independent exact-rational reference (python
    Fractions accumulating per-pixel overlap areas), across fractional
    up/down ratios; integer ratios reduce to resize_box."""
    from fractions import Fraction

    import numpy as np

    from etl_weather_spark.operators.multimodal import resize_area, resize_box

    rng = np.random.RandomState(11)
    for h, w, c, oh, ow in [(7, 5, 3, 3, 4), (6, 9, 1, 4, 6), (5, 5, 2, 8, 3)]:
        px = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
        got = resize_area(px, oh, ow)
        assert got.shape == (oh, ow, c) and got.dtype == np.uint8
        for i in range(oh):
            for j in range(ow):
                for ch in range(c):
                    acc = Fraction(0)
                    y0, y1 = Fraction(i * h, oh), Fraction((i + 1) * h, oh)
                    x0, x1 = Fraction(j * w, ow), Fraction((j + 1) * w, ow)
                    for r in range(h):
                        ry = max(0, min(y1, r + 1) - max(y0, r))
                        if ry == 0:
                            continue
                        for s in range(w):
                            rx = max(0, min(x1, s + 1) - max(x0, s))
                            if rx:
                                acc += ry * rx * int(px[r, s, ch])
                    area = (y1 - y0) * (x1 - x0)
                    assert got[i, j, ch] == int(acc / area), (i, j, ch)
    # integer ratio == box pooling (no crop needed at exact multiples)
    px = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    assert np.array_equal(resize_area(px, 4, 3), resize_box(px, 2))


def test_resample_linear_matches_fraction_reference():
    """resample_linear ≡ exact-rational linear interpolation at
    positions k·in/out, floor-toward-−∞, across fractional ratios and
    both channel counts; endpoint clamps at the final frame."""
    import math
    from fractions import Fraction

    import numpy as np

    from etl_weather_spark.operators.multimodal import resample_linear

    rng = np.random.RandomState(13)
    for n, c, rin, rout in [(50, 1, 8000, 6000), (33, 2, 16000, 6000), (20, 2, 8000, 12000)]:
        s = rng.randint(-32768, 32768, size=(n, c)).astype(np.int64)
        got = resample_linear(s, rin, rout)
        out_n = (n - 1) * rout // rin + 1
        assert got.shape == (out_n, c)
        for k in range(out_n):
            pos = Fraction(k * rin, rout)
            i = min(int(pos), n - 1)
            i2 = min(i + 1, n - 1)
            frac = pos - i
            for ch in range(c):
                exact = (1 - frac) * int(s[i, ch]) + frac * int(s[i2, ch])
                assert got[k, ch] == math.floor(exact), (k, ch)


def test_decimated_audio_stats_distributed(spark):
    """decode → decimate_frames(2) → exact stats inside mapInPandas,
    expected values from an independent numpy computation."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import (
        decimate_frames,
        decimated_audio_stats,
        encode_wav,
    )

    s = (np.arange(20, dtype=np.int64).reshape(10, 2) * 1000) - 9000
    rows = [
        (1, "audio", encode_wav(s, 16000), ("audio/wav", None, None, None, 16000)),
        (2, "audio", b"junk", ("audio/wav", None, None, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decimated_audio_stats(media).collect()}
    assert set(got) == {1}
    exp = decimate_frames(s, 2).reshape(-1)
    r = got[1]
    assert (r.out_frames, r.n_channels, r.out_rate) == (5, 2, 8000)
    assert r.s_sum == int(exp.sum())
    assert r.s_sqsum == int((exp * exp).sum())
    assert r.s_min == int(exp.min()) and r.s_max == int(exp.max())


def test_frame_sample_plan(spark):
    rows = [(3, "video", None, ("video/mp4", 640, 480, 3500, None))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    plan = frame_sample_plan(media)
    frames = sorted(r.frame_ms for r in plan.collect())
    assert frames == [0, 1000, 2000, 3000]


def test_media_features_compose_with_ann(spark):
    """End-to-end multimodal → similarity: extract features from media
    payloads, then near-dup detection over the feature vectors — the
    full pipeline shape (decode stub swapped for a real model at
    deploy time; the Spark plumbing is identical)."""
    from pyspark.sql import functions as F

    from etl_weather_spark.operators.similarity import cosine_topk_bruteforce

    rows = [
        (1, "image", b"payload-alpha", ("image/png", 4, 4, None, None)),
        (2, "image", b"payload-alpha", ("image/png", 4, 4, None, None)),  # dup bytes
        (3, "image", b"payload-beta-very-different", ("image/png", 8, 8, None, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = extract_features(media).filter(F.col("feature").isNotNull())
    vecs = feats.select(
        F.col("media_id").alias("vec_id"),
        F.col("feature").cast("array<float>").alias("embedding"),
    )
    top = cosine_topk_bruteforce(vecs, vecs, k=1).collect()
    best = {r.query_id: (r.neighbor_id, r.sim) for r in top}
    # identical payloads → identical features → cosine 1.0 mutual NN
    assert best[1][0] == 2 and abs(best[1][1] - 1.0) < 1e-9
    assert best[2][0] == 1 and abs(best[2][1] - 1.0) < 1e-9
    assert best[3][1] < 1.0


def test_streaming_sliding_window_matches_batch(spark, tmp_path):
    """Sliding windows (10 min / 5 min) give identical results under
    readStream (availableNow) and plain batch — the F.window call is
    shared, only the source differs (queries.sliding_window_volume is
    the batch twin the driver oracle-checks)."""
    src = tmp_path / "slide_src"
    src.mkdir()
    events = [
        {"event_id": i, "ts": f"2024-01-01T00:{mm:02d}:30", "user_id": 1,
         "event_type": "view", "value": float(i + 1), "props": "{}"}
        for i, mm in enumerate([0, 3, 7, 12, 14, 21])
    ]
    (src / "p.json").write_text("\n".join(json.dumps(e) for e in events))

    def slide(df):
        return (
            df.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("vsum"))
            .select(F.col("win.start").alias("ws"), "n", "vsum")
        )

    stream = read_event_stream(spark, str(src)).withWatermark(
        "ts", "1 hour"
    )
    got = sorted(
        (str(r.ws), r.n, r.vsum)
        for r in run_available_now(slide(stream), query_name="t_slide_stream")
    )
    batch = spark.read.schema(stream.schema).json(str(src))
    exp = sorted((str(r.ws), r.n, r.vsum) for r in slide(batch).collect())
    assert got == exp and len(got) >= 6  # every event in exactly 2 windows


def test_media_map_stages_are_spelled_once():
    """Every decode → conform → summary operator of
    ``operators/multimodal.py`` runs through ``_media_kernel`` and every
    payload fixture of ``queries/media.py`` through ``_payloads``: no
    other function there calls ``mapInPandas``/``mapInArrow``.
    ``extract_features`` keeps its own pass (one row per payload, decode
    errors included)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl_weather_spark"

    def callers(rel: str) -> list[str]:
        return sorted(
            getattr(top, "name", "<module>")
            for top in ast.parse((pkg / rel).read_text()).body
            for node in ast.walk(top)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("mapInPandas", "mapInArrow")
        )

    assert callers("operators/multimodal.py") == ["_media_kernel", "extract_features"]
    assert callers("queries/media.py") == ["_payloads"]


def test_dhash_bits_matches_naive_loop():
    """dhash_bits ≡ an independent per-block double loop (grayscale
    floor mean, block floor mean, gradient-sign bits, 32-bit halves)."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import dhash_bits

    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(16, 36, 3), dtype=np.uint8)
    hi, lo = dhash_bits(px)

    gray = [[sum(int(px[y, x, ch]) for ch in range(3)) // 3 for x in range(36)] for y in range(16)]
    m = [
        [
            sum(gray[r * 2 + dy][c * 4 + dx] for dy in range(2) for dx in range(4)) // 8
            for c in range(9)
        ]
        for r in range(8)
    ]
    ehi = elo = 0
    for r in range(8):
        for c in range(8):
            k = r * 8 + c
            bit = 1 if m[r][c] > m[r][c + 1] else 0
            if k < 32:
                elo |= bit << k
            else:
                ehi |= bit << (k - 32)
    assert (hi, lo) == (ehi, elo)


def test_dhash_invariants():
    """Identical images hash equal; a +1 sparse-lattice twin stays
    within small hamming; non-divisible dims raise."""
    import numpy as np

    from etl_weather_spark.operators.multimodal import dhash_bits

    x = np.arange(36)[None, :]
    y = np.arange(16)[:, None]
    base = ((x * x * 7 + y * 13) % 251).astype(np.uint8)[:, :, None]
    twin = ((x * x * 7 + y * 13 + (((x + y) % 29) == 0)) % 251).astype(np.uint8)[:, :, None]
    h1 = dhash_bits(base)
    assert dhash_bits(base.copy()) == h1
    h2 = dhash_bits(twin)
    ham = bin((h1[0] ^ h2[0])).count("1") + bin((h1[1] ^ h2[1])).count("1")
    assert ham <= 3

    import pytest

    with pytest.raises(ValueError):
        dhash_bits(np.zeros((15, 36, 1), dtype=np.uint8))
