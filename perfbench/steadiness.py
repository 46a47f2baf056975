#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, one run per seed, and the
agreement of two such sets:

    python3 perfbench/steadiness.py --workload ingest --seeds 1-10 --save a.json
    python3 perfbench/steadiness.py --workload ingest --seeds 11-20 --save b.json
    python3 perfbench/steadiness.py --compare a.json b.json

For each metric a set prints its median and the distance between the first
and third quartile (``statistics.quantiles(n=4)``) as a share of the
median, next to the metric's bound in BENCHMARK.json: ``steady`` below a
third of the bound, ``noisy`` below the bound, ``TOO NOISY`` above it.
``setup_s`` is judged like every other metric. ``--compare`` prints, per
metric, how much worse the second set's median is than the first's, as a
share of the first, and fails any metric where the two medians differ by
more than its bound in either direction. Runs are sequential, so they do
not contend.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``
    (negative when it is better)."""
    change = (second - first) / first
    return change if better == "lower" else -change


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m for m in bench["end_to_end"]} | {"_run_seconds": bench["run_seconds"]}


def run_set(workload: str, seed_list: list[int], run_seconds: int) -> dict[str, list[float]]:
    values: dict[str, list[float]] = {}
    for seed in seed_list:
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
               workload, "--seed", str(seed), "--seconds", str(run_seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(1)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']} "
              + " ".join(f"{k}={m['value']:.4f}" for k, m in result["metrics"].items()),
              flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    return values


def report_set(values: dict[str, list[float]], metrics: dict) -> bool:
    ok = True
    for k, vs in values.items():
        s, bound = spread(vs), metrics[k]["bound"]
        verdict = "steady" if s < bound / 3 else "noisy" if s < bound else "TOO NOISY"
        ok &= s < bound
        print(f"{k:<11} median {statistics.median(vs):.4f}  spread {s:.4f}  bound {bound}  {verdict}")
    return ok


def compare(first: dict[str, list[float]], second: dict[str, list[float]], metrics: dict) -> bool:
    ok = True
    for k in first:
        a, b = statistics.median(first[k]), statistics.median(second[k])
        w, bound = worse_by(a, b, metrics[k]["better"]), metrics[k]["bound"]
        verdict = "agree" if abs(w) <= bound else "DISAGREE"
        ok &= abs(w) <= bound
        print(f"{k:<11} median {a:.4f} -> {b:.4f}  worse by {w:+.4f}  bound {bound}  {verdict}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--save", help="write the set's values to this JSON file")
    p.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"),
                   help="compare the medians of two saved sets")
    args = p.parse_args()
    metrics = load_bench()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as f:
                sets.append(json.load(f))
        return 0 if compare(sets[0], sets[1], metrics) else 1
    if not args.workload:
        p.error("--workload or --compare is required")
    values = run_set(args.workload, seeds(args.seeds), metrics["_run_seconds"])
    if args.save:
        with open(args.save, "w") as f:
            json.dump(values, f)
    return 0 if report_set(values, metrics) else 1


if __name__ == "__main__":
    sys.exit(main())
