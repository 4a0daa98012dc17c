"""Alternating A/B pairs of the repo benchmark between two checkouts.

    python scripts/perfbench_pairs.py --base ../parent --change . \\
        --workload weather_etl --seeds 61-70 --pairs 10 --seconds 8 --trace 0

Each pair runs ``perfbench/run.py`` once in each checkout, each run a
fresh process started in that checkout's root, so each side benchmarks
its own code. The first side alternates: even pairs run the base first,
odd pairs the change. Pair ``i`` uses seed ``seeds[i % len(seeds)]`` on
both sides. Every run's result is printed as a JSON line as it finishes (pipe
through ``tee`` to keep them); the summary then gives, per metric and
side, the median and quartiles, the change's win count (ties count for
neither) and failed/attempted operations, and the verdict of a claim:
the change wins at least nine tenths of the pairs, the medians differ by
more than the base's interquartile range, and the change fails no larger
share of its operations than the base. Metric directions come from the
change's ``BENCHMARK.json``. Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

#: a run takes about a minute; one that hangs counts as a failed run
RUN_TIMEOUT_S = 900


def _seeds(spec: str) -> list[int]:
    """'61-70' or '31,33,40-42' → list of ints."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _directions(checkout: str) -> dict[str, str]:
    with open(os.path.join(checkout, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One fresh-process benchmark run; a crash, a hang or unreadable
    output counts as one failed operation."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
        code, lines = proc.returncode, proc.stdout.strip().splitlines()
    except subprocess.TimeoutExpired:
        code, lines = None, []
    wall = time.perf_counter() - t0
    try:
        out = json.loads(lines[-1])
        metrics = {k: v["value"] for k, v in out["metrics"].items()}
        attempted, failed = out["attempted"], out["failed"]
    except (IndexError, KeyError, TypeError, ValueError):
        metrics, attempted, failed = {}, 1, 1
    return {
        "seed": seed, "exit": code, "wall_s": round(wall, 1),
        "attempted": attempted, "failed": failed, "metrics": metrics,
    }


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def summarize(pairs: list[dict], directions: dict[str, str]) -> list[str]:
    """The summary lines: per metric, both sides' quartiles, wins, verdict."""
    lines = []
    totals = {
        side: (sum(p[side]["failed"] for p in pairs), sum(p[side]["attempted"] for p in pairs))
        for side in ("base", "change")
    }
    (bbad, batt), (cbad, catt) = totals["base"], totals["change"]
    fails_ok = cbad * batt <= bbad * catt
    names = sorted({m for p in pairs for side in ("base", "change") for m in p[side]["metrics"]})
    for name in names:
        ok = [p for p in pairs if name in p["base"]["metrics"] and name in p["change"]["metrics"]]
        if not ok:
            continue
        base = [p["base"]["metrics"][name] for p in ok]
        change = [p["change"]["metrics"][name] for p in ok]
        lower = directions.get(name, "lower") == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
        (bq1, bmed, bq3), (cq1, cmed, cq3) = _quartiles(base), _quartiles(change)
        gain = (bmed - cmed) if lower else (cmed - bmed)
        claim = wins >= 0.9 * len(pairs) and gain > bq3 - bq1 and fails_ok
        lines.append(
            f"{name}: base median {bmed:.4g} [q1 {bq1:.4g}, q3 {bq3:.4g}]"
            f" | change median {cmed:.4g} [q1 {cq1:.4g}, q3 {cq3:.4g}]"
            f" | change {(cmed - bmed) / bmed * 100 if bmed else float('nan'):+.1f}%"
            f" | change wins {wins}/{len(pairs)} | base IQR {bq3 - bq1:.4g}"
            f" | gain claim {'HOLDS' if claim else 'does not hold'}"
        )
    for side, (bad, att) in totals.items():
        lines.append(f"{side}: failed/attempted {bad}/{att}")
    lines.append(
        "failed share: change " + ("no higher than base" if fails_ok else "HIGHER than base, so no gain claim holds")
    )
    return lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=".", help="checkout of the change (default: .)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 61-70 or 31,33,40-42")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args(argv)

    sides = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    seeds = _seeds(args.seeds)
    pairs = []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        pair = {"pair": i, "seed": seed, "first": order[0]}
        for side in order:
            run = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            pair[side] = run
            print(json.dumps({"workload": args.workload, "pair": i, "side": side, **run}), flush=True)
        pairs.append(pair)
    print(f"== {args.workload}: {args.pairs} pairs, seeds {args.seeds}, --seconds {args.seconds} --trace {args.trace}")
    for line in summarize(pairs, _directions(sides["change"])):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
