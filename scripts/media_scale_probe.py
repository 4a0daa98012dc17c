"""Scale probe for the fractional media-conform stages: synthesize
N and R·N deterministic PNG/WAV payloads, run the area-resize and
linear-resample stats pipelines end-to-end (decode → conform → stats),
and report the wall-clock ratio. Both stages are map-only (no shuffle
before the tiny final sort), so the ratio should sit at ~R or below
(below when the fixed Python-worker spin-up amortizes).

Usage: python scripts/media_scale_probe.py [N] [R]
Writes one JSON line to stdout (redirect to media_scale.json).
The recorded run is at `git show 56ef44c:media_scale.json`.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_weather_spark.session import get_spark


def _media(spark, n_rows: int, kind: str):
    ids = spark.range(0, n_rows, 1, 32).select(F.col("id").alias("doc_id"))

    def synth(batches):
        import numpy as np
        import pandas as pd

        from etl_weather_spark.operators.multimodal import encode_png, encode_wav

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if kind == "png":
                    w, h = 16 + did % 17, 16 + did % 13
                    v = ((did * 7 + np.arange(w * h * 3, dtype=np.int64) * 13) % 256).astype(
                        np.uint8
                    )
                    payload = encode_png(v.reshape(h, w, 3), filter_types=[y % 5 for y in range(h)])
                else:
                    n_frames = 200 + did % 100
                    n_ch = 1 + did % 2
                    rate = 8000 + (did % 3) * 4000
                    v = ((did * 31 + np.arange(n_frames * n_ch, dtype=np.int64) * 17) % 65536) - 32768
                    payload = encode_wav(v.reshape(n_frames, n_ch), rate)
                rows.append({"media_id": did, "payload": payload})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return ids.mapInPandas(synth, schema="media_id long, payload binary")


def _time(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 2)


def main() -> None:
    from etl_weather_spark.operators.multimodal import (
        area_resized_pixel_stats,
        resampled_audio_stats,
    )

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    r = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="media-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # warm the Python worker pool so t1 isn't dominated by fork/import
    _time(area_resized_pixel_stats(_media(spark, 256, "png"), 7, 10))

    out = {"metric": "media_fractional_conform_scale", "n": n, "R": r, "ops": {}}
    for name, build in (
        ("media_area_resize", lambda m: area_resized_pixel_stats(m, 7, 10)),
        ("media_resample", lambda m: resampled_audio_stats(m, 6000)),
    ):
        kind = "png" if "resize" in name else "wav"
        t1 = _time(build(_media(spark, n, kind)))
        tr = _time(build(_media(spark, n * r, kind)))
        out["ops"][name] = {
            "t1": t1,
            "tR": tr,
            "ratio": round(tr / t1, 1) if t1 else None,
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
