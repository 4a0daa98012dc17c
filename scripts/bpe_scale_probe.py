"""Production-rounds BPE probe: train 1,000 merges on the real
documents vocab and record wall time, rounds (Spark jobs), batch-size
distribution, and final plan depth — the evidence that tokenizer
training is no longer bounded by one-job-per-merge or merges-deep
lineage (VERDICT r4 item 1).

Usage: python scripts/bpe_scale_probe.py [sf_dir] [n_merges]
Writes one JSON line to stdout (redirect to bpe1k.json).
The recorded run is at `git show 56ef44c:bpe1k.json`.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import etl_weather_spark.operators.textops as T
from etl_weather_spark.operators.dedup import tokens
from etl_weather_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_merges = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    spark = get_spark(app_name="bpe-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    real = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # the synthetic documents table draws from a ~31-word vocabulary —
    # far below 1k-merge capacity (training exhausts when every word is
    # one token) — so extend it with a deterministic seeded vocab to
    # give the probe a production-shaped merge budget.
    import random

    rng = random.Random(42)
    chars = "abcdefghijklmnopqrstuvwxyz0123456789"
    syn: dict[str, int] = {}
    for _ in range(6000):
        w = "".join(rng.choice(chars) for _ in range(rng.randint(3, 12)))
        syn[w] = syn.get(w, 0) + rng.randint(1, 50)
    syn_df = spark.createDataFrame(list(syn.items()), "word string, freq long")
    vocab = (
        real.unionByName(syn_df)
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
        .select(F.split("word", "").alias("syms"), "freq")
        .repartition(8)
        .persist()
    )
    n_words = vocab.count()

    sizes: list[int] = []
    orig = T._bpe_safe_batch

    def wrapped(*a, **k):
        b = orig(*a, **k)
        sizes.append(len(b))
        return b

    T._bpe_safe_batch = wrapped
    t0 = time.perf_counter()
    merges, v = T._bpe_rounds(vocab, n_merges, batch_cap=64, pool_size=512)
    elapsed = round(time.perf_counter() - t0, 1)
    T._bpe_safe_batch = orig
    plan_lines = len(
        v._jdf.queryExecution().optimizedPlan().numberedTreeString().splitlines()
    )
    out = {
        "metric": "bpe_production_rounds",
        "sf_dir": sf_dir,
        "vocab_words": n_words,
        "merges": len(merges),
        "rounds_jobs": len(sizes),
        "merges_per_job": round(len(merges) / max(1, len(sizes)), 2),
        "batch_hist": {
            "min": min(sizes),
            "mean": round(sum(sizes) / len(sizes), 2),
            "max": max(sizes),
        },
        "elapsed_sec": elapsed,
        "final_plan_lines": plan_lines,
        "last_merge": list(merges[-1]) if merges else None,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
