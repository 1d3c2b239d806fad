#!/usr/bin/env python3
"""Steadiness check for the graft benchmark.

Runs the benchmark command from BENCHMARK.json on every workload, once per
seed, in two (or more) sets of the same code, and prints per workload and
end-to-end metric: each set's median and quartiles, the spread (distance
between the first and third quartile as a share of the median), the
metric's bound, and how far the second set's median moved from the
first's. A metric is steady when every spread stays below a third of its
bound and the move, in either direction, stays within the bound; it is
within bound when every spread and the move stay within the bound. The
share of CPU time the host stole during each set's runs is printed too.

Usage (from the repository root):

    python3 perfbench/steady.py [--seeds 10] [--sets 2] [--workloads marts,cdc]
                                [--traced 1] [--out FILE]

With `--traced N`, N traced runs per workload follow, and the tracing
overhead (traced `traced_wall_s` minus untraced `wall_s`, medians) is
printed per workload.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def run(spec, workload, seed, trace, retries=2):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    took = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 and "stole" in p.stderr and retries > 0:
        # a run on a contended host is re-run, never compared
        print(f"  {workload:8s} seed {seed:4d}: {p.stderr.strip().splitlines()[-1]}", flush=True)
        return run(spec, workload, seed, trace, retries - 1)
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed (exit {p.returncode})")
    result = json.loads(lines[-1])
    steal = next((float(l.split()[2]) for l in lines if l.startswith("[host] steal ")
                  and l.split()[2] != "unknown"), float("nan"))
    print(f"  {workload:8s} seed {seed:4d} trace {trace}: {took:5.0f} s, steal {steal:.3f}, "
          f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}",
          flush=True)
    return result, took, steal


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, default=10, help="runs per workload per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "steady.json"))
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    # results[set][workload] = list of metric dicts; seeds differ across sets
    results = [{w: [] for w in workloads} for _ in range(args.sets)]
    took = []
    steals = [[] for _ in range(args.sets)]
    for s in range(args.sets):
        print(f"set {s + 1}", flush=True)
        for i in range(args.seeds):
            seed = 1 + s * args.seeds + i
            for w in workloads:
                r, t, st = run(spec, w, seed, 0)
                took.append(t)
                steals[s].append(st)
                if not r["correct"]:
                    raise SystemExit(f"{w} seed {seed}: output check failed")
                results[s][w].append({k: v["value"] for k, v in r["metrics"].items()})
    traced = {w: [] for w in workloads}
    for i in range(args.traced):
        for w in workloads:
            r, t, _ = run(spec, w, 1000 + i, 1)
            traced[w].append(r["metrics"]["traced_wall_s"]["value"])

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"results": results, "traced_wall_s": traced, "steal": steals}, f, indent=1)

    print(f"\nruns: {len(took)}, seconds per run: median {statistics.median(took):.0f}, "
          f"max {max(took):.0f}")
    for s, st in enumerate(steals):
        print(f"set {s + 1}: host steal median {statistics.median(st):.3f}, max {max(st):.3f}")
    all_steady = True
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':14s} {'set':>3s} {'q1':>11s} {'median':>11s} {'q3':>11s} "
              f"{'spread':>7s} {'bound':>6s} {'move':>7s}  verdict")
        for name, m in bounds.items():
            meds = []
            for s in range(args.sets):
                vals = [r[name] for r in results[s][w]]
                q1, med, q3 = quartiles(vals)
                meds.append(med)
                spread = (q3 - q1) / med if med else float("inf")
                move = (med - meds[0]) / meds[0] if meds[0] else 0.0
                if m["better"] == "higher":
                    move = -move
                ok_move = abs(move) <= m["bound"]
                verdict = ("steady" if spread <= m["bound"] / 3 and ok_move else
                           "within bound" if spread <= m["bound"] and ok_move else "NOT STEADY")
                all_steady = all_steady and verdict == "steady"
                print(f"  {name:14s} {s + 1:3d} {q1:11.4f} {med:11.4f} {q3:11.4f} "
                      f"{spread:7.3f} {m['bound']:6.2f} {move:+7.3f}  {verdict}")
        if traced[w]:
            untraced = statistics.median(r["wall_s"] for r in results[0][w])
            print(f"  tracing overhead: traced wall_s {statistics.median(traced[w]):.3f} s - "
                  f"untraced {untraced:.3f} s = {statistics.median(traced[w]) - untraced:+.3f} s per round")
    print("\nall metrics steady" if all_steady else "\nsome metrics are not steady")


if __name__ == "__main__":
    main()
