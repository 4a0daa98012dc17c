#!/usr/bin/env python
"""Capture .explain('formatted') for named registry queries into
plans/$SPARK_GRAFT_PLAN_ROUND/<query>_<tag>.txt (judge-checkable
evidence for the optimization rounds). Usage:

    SPARK_GRAFT_PLAN_ROUND=r11 python scripts/capture_plans.py <tag> <query> [...]

Tag is 'before' or 'after'. Data dir from $SPARK_GRAFT_SF_DIR
(default sf0.1).

CAVEAT: building a query's plan is NOT free of Spark jobs, so SF
affects capture time and, through AQE statistics, plan shape:

- every fence and cache goes through ``operators.fence``: under AQE a
  lazy ``fence`` runs a real job while the plan is built
  (AdaptiveSparkPlanExec materializes its stages inside ``toRdd``; see
  ``_registry._build_concurrently``), and an eager one runs the whole
  frame;
- five dedup operators fence eagerly inside a ``persisted`` block —
  prefix_filter_candidates, containment_candidates,
  pruned_jaccard_pairs, verify_candidates_jaccard and
  verify_candidates_containment — as does ``textops.bpe_segment``;
- ``textops._bpe_rounds`` (bpe_train, bpe_segment and the BPE queries)
  collects one pair-count pool per training round during construction;
- bounded reference pins (collect_ref_vectors, the IVF centroid pins
  in operators/similarity) run small driver-side collects, hard-capped
  at REF_PIN_MAX_ROWS.

The captured plan of such a query therefore starts at the fenced
leaves, not at the source scans.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_weather_spark import queries as q
from etl_weather_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r11"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.queries()
    for name in names:
        df = registry[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
