#!/usr/bin/env python3
"""Alternating A/B of two checkouts on one workload of the graft benchmark.

Runs each checkout's own `perfbench/run.py` (with the command and run
length from the change's BENCHMARK.json) for N pairs, one seed per pair,
alternating which side runs first. Prints each pair's results and the
share of CPU time the host stole during each run, then per end-to-end
metric each side's quartiles, the ratio of the medians, how many pairs
the change won (ties count for neither side) and whether the gain rule
holds: the change wins at least nine tenths of the pairs and the medians
differ by more than the base's interquartile range.

Usage:

    python3 scripts/ab_pairs.py --base PARENT_CHECKOUT --change CHANGE_CHECKOUT \\
        --workload marts --pairs 10 [--seed 11] [--out FILE]

Each checkout compiles once on its first run (into its own
`.bench_build/`), so run one warm-up per side first, or expect the first
pair to include a build; the build is outside the measured JVM either
way. A run refused for steal is re-run up to twice.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(spec, checkout, workload, seed, retries=2, trace="0"):
    """One run of `checkout`'s benchmark; returns (metrics, steal, stdout lines)."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", trace]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 and "stole" in p.stderr and retries > 0:
        print(f"    {checkout}: {p.stderr.strip().splitlines()[-1]} (re-running)", flush=True)
        return run_once(spec, checkout, workload, seed, retries - 1, trace)
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{checkout} {workload} seed {seed} failed (exit {p.returncode})")
    result = json.loads(lines[-1])
    steal = next((float(l.split()[2]) for l in lines
                  if l.startswith("[host] steal ") and l.split()[2] != "unknown"), float("nan"))
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"{checkout} {workload} seed {seed}: correct={result['correct']} "
                         f"failed={result['failed']}")
    return {m: v["value"] for m, v in result["metrics"].items()}, steal, lines


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=11, help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--out", default=None, help="write every run's metrics here as JSON")
    args = ap.parse_args()
    base, change = os.path.abspath(args.base), os.path.abspath(args.change)

    with open(os.path.join(change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    lower_better = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}

    runs = {"base": [], "change": []}
    steals = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        pair = {}
        for side in order:
            t0 = time.time()
            pair[side] = run_once(spec, base if side == "base" else change, args.workload, seed)
            metrics, steal, _ = pair[side]
            print(f"  pair {i + 1:2d} seed {seed}: {side:6s} {time.time() - t0:4.0f} s, "
                  f"steal {steal:.3f}, "
                  + " ".join(f"{m['name']} {metrics[m['name']]:.4g}" for m in spec["end_to_end"]),
                  flush=True)
        for side in ("base", "change"):
            runs[side].append(pair[side][0])
        steals.append((pair["base"][1], pair["change"][1]))

    n = args.pairs
    print(f"\n{args.workload}: {n} pairs, seeds {args.seed}..{args.seed + n - 1}, "
          f"first side alternating (base first in odd pairs)")
    print("steal per pair (base, change): "
          + " ".join(f"({b:.3f}, {c:.3f})" for b, c in steals))
    print(f"{'metric':14s} {'base q1/med/q3':>28s} {'change q1/med/q3':>28s} {'ratio':>6s} "
          f"{'won':>6s}  gain")
    for m in spec["end_to_end"]:
        name = m["name"]
        b = [r[name] for r in runs["base"]]
        c = [r[name] for r in runs["change"]]
        bq, cq = quartiles(b), quartiles(c)
        sign = 1 if lower_better[name] else -1
        won = sum(1 for x, y in zip(b, c) if sign * (y - x) < 0)
        gain = won >= 0.9 * n and sign * (bq[1] - cq[1]) > bq[2] - bq[0]
        ratio = cq[1] / bq[1] if bq[1] else float("nan")
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:14s} {fmt(bq):>28s} {fmt(cq):>28s} {ratio:6.3f} {won:3d}/{n:<2d}  "
              f"{'yes' if gain else 'no'}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "runs": runs,
                       "steal": steals}, f, indent=1)


if __name__ == "__main__":
    main()
