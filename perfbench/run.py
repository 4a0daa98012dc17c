"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process runs one workload:

1. generate the seeded inputs (not timed);
2. start the Spark session cold, then set up the workload's ``SETUPS``
   times: restart the session (after the first) and run one checked
   warm-up operation;
3. run checked operations for ``--seconds`` and report the end-to-end
   metrics, or with ``--trace 1`` the per-layer metrics.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The exit code is 1 when any output check failed, 2 on a usage error or
when the engine package is missing.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

WORKLOADS = {
    "weather_etl": "perfbench.wl_weather",
    "serve_mixed": "perfbench.wl_serve",
}
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.restart_s": "s",
    "session.warm_s": "s",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
    "ops.count": "count",
    "ops.p90_ms": "ms",
    "sources.land_s": "s",
    "sources.scan_task_s": "s",
    "sources.scan_tasks": "count",
    "sources.input_bytes": "B",
    "sources.input_records": "count",
    "sources.records_per_result": "ratio",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_jobs": "count",
    "queries.build_core_util": "ratio",
    "queries.pins_after": "count",
    "operators.pipeline_s": "s",
    "operators.task_s": "s",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_write_bytes": "B",
    "operators.shuffle_read_bytes": "B",
    "operators.spill_bytes": "B",
    "report.render_s": "s",
    "report.bytes_out": "B",
    "serve.hit_p50_ms": "ms",
    "serve.miss_p50_ms": "ms",
    "serve.handle_hit_ms": "ms",
    "serve.handle_miss_ms": "ms",
    "serve.http_overhead_ms": "ms",
    "serve.cache_hit_ratio": "ratio",
    "serve.evictions": "1/req",
    "serve.jobs_per_miss": "count",
    "serve.response_bytes": "B",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _e2e(cold_s: float, warm: list[float], res: dict) -> dict[str, float]:
    from perfbench.harness import median

    return {"setup_s": cold_s + median(warm), "op_p50_ms": median(res["lat_ms"])}


def bench(args: argparse.Namespace, root: str) -> dict:
    from perfbench import eventlog
    from perfbench.harness import Run, median, quantile, span_report

    mod = importlib.import_module(WORKLOADS[args.workload])
    t_start = time.perf_counter()
    with Run(args.workload, args.seed, False, root) as run:
        wl = mod.Workload(run)
        t_gen = time.perf_counter() - t_start
        try:
            t0 = time.perf_counter()
            run.start_spark()
            cold_s = time.perf_counter() - t0
            warm, restarts = [], []
            for i in range(mod.SETUPS):
                if i:
                    t0 = time.perf_counter()
                    run.restart_spark()
                    restarts.append(time.perf_counter() - t0)
                warm.append(wl.setup())
            wl.warm_up()
            if not args.trace:
                res = lat = wl.measure(args.seconds)
                metrics = _e2e(cold_s, warm, res)
                units = END_TO_END
            else:
                # half the window untraced, then the same on a session with
                # the event log, job labels and spans on: the difference in
                # median operation time is the tracing overhead
                plain = wl.measure(args.seconds / 2)
                run.trace = run.tracer.enabled = True
                run.restart_spark()
                wl.restarted()
                traced = lat = wl.measure(args.seconds / 2)
                run.stop_spark()  # also takes the last memory sample
                groups = eventlog.fold_dir(run.eventlog_dir)
                for line in span_report(run.tracer.spans):
                    print(f"perfbench: span {line}", file=sys.stderr)
                metrics = dict.fromkeys(PER_LAYER, 0.0)
                metrics.update(wl.layer_metrics(groups))
                metrics.update({
                    "session.start_s": cold_s,
                    "session.restart_s": median(restarts) if restarts else 0.0,
                    "session.warm_s": median(warm),
                    "memory.peak_rss_mb": run.peak_rss_kb / 1024.0,
                    "queries.pins_after": max(run.tracer.samples["queries.pins_after"], default=0),
                    "trace.overhead_ms": median(traced["lat_ms"]) - median(plain["lat_ms"]),
                    "ops.count": len(traced["lat_ms"]),
                    "ops.p90_ms": quantile(traced["lat_ms"], 0.9),
                })
                units = PER_LAYER
        finally:
            wl.close()
    ops = lat["lat_ms"]
    print(
        f"perfbench: inputs {t_gen:.1f}s, cold start {cold_s:.1f}s, set-ups "
        f"{', '.join(f'{w:.2f}' for w in warm)}s, restarts {', '.join(f'{r:.2f}' for r in restarts)}s, {len(ops)} ops {' '.join(f'{x:.0f}' for x in ops[:40])} ms, "
        f"total {time.perf_counter() - t_start:.1f}s",
        file=sys.stderr,
    )
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "failures": run.failures,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = _parse(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_weather_spark", "__init__.py")):
        print("perfbench: run from the repository root (etl_weather_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out = bench(args, root)
    for f in out.pop("failures"):
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
