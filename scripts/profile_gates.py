#!/usr/bin/env python
"""Per-gate noop-sink micro-timings for the seven shared funnel gates
(round 11 optimization, VERDICT item #1).

Times each gate CORE (docs -> gated relation) in interleaved rounds so
ambient load hits every gate equally; also times the keep-set
projection (filter + select doc_id) that the funnels actually consume.

    python scripts/profile_gates.py [n_rounds]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_weather_spark.queries._registry import load
from etl_weather_spark.queries.training import _FUNNEL_GATES
from etl_weather_spark.session import get_spark


def main() -> None:
    n_rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile-gates")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load(spark, sf_dir, "documents")
    docs.write.format("noop").mode("overwrite").save()  # warm scan

    times: dict[str, list[float]] = {}
    for rnd_i in range(n_rounds):
        for name, _key, cond, core in _FUNNEL_GATES:
            spark.sparkContext.setJobDescription(f"gate:{name} r{rnd_i}")
            t0 = time.perf_counter()
            core(docs).filter(F.expr(cond)).select("doc_id").write.format(
                "noop"
            ).mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            times.setdefault(name, []).append(dt)
            print(f"round {rnd_i} {name}: {dt}s", flush=True)
        spark.sparkContext.setJobDescription(None)

    summary = {n: {"min": min(v), "samples": v} for n, v in times.items()}
    print(json.dumps(summary, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
