#!/usr/bin/env python3
"""Compare two sets of benchmark results, or show the spread of one.

A result set is a JSON-lines file with one record per run, as
`perfbench/run.py --record FILE` appends them:
    {"workload": "light", "seed": 3, "trace": 0, "correct": true, ...,
     "metrics": {"p50_ms": {"value": 801.2, "unit": "ms"}, ...}}

Usage:
    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --spread RESULTS.jsonl

For each workload and metric the comparison prints both sides' median
and quartiles, the ratio of the medians, and the share of pairs the
change wins: the i-th run of each side (in record order) form a pair,
and ties count for neither side. Per-layer counters that do not drift
(jobs, tasks, shuffle MB) are printed as exact deltas next to the time
ratios. `--spread` prints, per metric, the quartile distance as a share
of the median, next to the metric's bound from BENCHMARK.json.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_mb",
            "spark.shuffle_write_mb", "tables.schema_jobs", "build.jobs"]
HIGHER_IS_BETTER = {"ops_per_s", "recall_at_10"}


def load(path):
    runs = {}
    for line in open(path):
        if line.strip():
            r = json.loads(line)
            runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def spec():
    """Direction and bound of every end-to-end metric, from BENCHMARK.json."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    b = json.load(open(path))
    return {m["name"]: m for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def values(runs, metric):
    return [r["metrics"][metric]["value"] for r in runs
            if metric in r["metrics"] and r["metrics"][metric]["value"] is not None]


def lower_is_better(metric, specs):
    if metric in specs:
        return specs[metric].get("better", "lower") == "lower"
    return metric not in HIGHER_IS_BETTER


def spread(path):
    specs = spec()
    for (workload, trace), runs in sorted(load(path).items()):
        ok = sum(1 for r in runs if r.get("correct"))
        print(f"== {workload} trace={trace}: {len(runs)} runs, {ok} correct")
        for m in sorted({k for r in runs for k in r["metrics"]}):
            xs = values(runs, m)
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / med if med else float("nan")
            bound = specs.get(m, {}).get("bound")
            flag = "" if bound is None else (
                "  ok" if rel < bound / 3 else "  WITHIN BOUND" if rel <= bound else "  TOO WIDE")
            print(f"  {m:36s} median {med:12.5g}  spread {rel:7.3f}"
                  f"{'' if bound is None else f'  bound {bound}'}{flag}")


def compare(base_path, change_path):
    specs = spec()
    base, change = load(base_path), load(change_path)
    for key in sorted(set(base) & set(change)):
        a, b = base[key], change[key]
        print(f"== {key[0]} trace={key[1]}: base {len(a)} runs, change {len(b)} runs")
        for m in sorted({k for r in a + b for k in r["metrics"]}):
            xa, xb = values(a, m), values(b, m)
            if not xa or not xb:
                continue
            qa, qb = quartiles(xa), quartiles(xb)
            ratio = qb[1] / qa[1] if qa[1] else float("nan")
            low = lower_is_better(m, specs)
            pairs = list(zip(xa, xb))
            wins = sum(1 for x, y in pairs if (y < x if low else y > x))
            line = (f"  {m:34s} base {qa[1]:10.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
                    f"  change {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
                    f"  ratio {ratio:6.3f}  change wins {wins}/{len(pairs)}")
            if m in COUNTERS:
                line += f"  delta {qb[1] - qa[1]:+.4g}"
            print(line)


def main():
    if len(sys.argv) == 3 and sys.argv[1] == "--spread":
        spread(sys.argv[2])
    elif len(sys.argv) == 3:
        compare(sys.argv[1], sys.argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
