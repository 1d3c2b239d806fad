#!/usr/bin/env python3
"""Compare the work two checkouts do on one traced benchmark run.

Runs each checkout's own `perfbench/run.py` once with `--trace 1` (the
command and run length from the change's BENCHMARK.json, as
`ab_pairs.py` does), base first, at the same seed. Then prints, side by
side, every count that differs between the two runs:

  - the per-layer metrics BENCHMARK.json gives the unit "count": the
    `*.jobs` and `round.jobs` Spark job counts, the `sources.log.*` and
    `sources.prune.*` meters and the other counters;
  - the calls and Spark jobs of each traced span (the `[span]` lines).

Milliseconds are not compared: they drift between runs. A change meant
to do the same work should print no differing count.

Usage:

    python3 scripts/trace_diff.py --base PARENT_CHECKOUT --change CHANGE_CHECKOUT \\
        --workload cdc --seed 1

Exit status: 0 when every count is equal, 1 when some differ.
"""

import argparse
import json
import os
import sys

from ab_pairs import run_once


def span_counts(lines):
    """{"span NAME calls": n, "span NAME jobs": j} from the `[span]` lines."""
    out = {}
    for line in lines:
        if not line.startswith("[span] "):
            continue
        tokens = line.split()
        name, fields = tokens[1], dict(zip(tokens[2::2], tokens[3::2]))
        for key in ("calls", "jobs"):
            out[f"span {name} {key}"] = float(fields[key])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    base, change = os.path.abspath(args.base), os.path.abspath(args.change)

    with open(os.path.join(change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    counted = [m["name"] for m in spec["per_layer"] if m["unit"] == "count"]

    counts = {}
    for side, checkout in (("base", base), ("change", change)):
        metrics, steal, lines = run_once(spec, checkout, args.workload, args.seed, trace="1")
        print(f"{side:6s} {checkout}: steal {steal:.3f}", flush=True)
        counts[side] = {**{m: metrics[m] for m in counted}, **span_counts(lines)}

    names = sorted(set(counts["base"]) | set(counts["change"]))
    differ = [n for n in names if counts["base"].get(n) != counts["change"].get(n)]
    fmt = lambda v: "absent" if v is None else f"{v:g}"
    print(f"\n{args.workload} seed {args.seed}: {len(names)} counts compared, "
          f"{len(differ)} differ")
    if differ:
        width = max(len(n) for n in differ)
        print(f"{'count':{width}s} {'base':>10s} {'change':>10s}")
        for n in differ:
            print(f"{n:{width}s} {fmt(counts['base'].get(n)):>10s} "
                  f"{fmt(counts['change'].get(n)):>10s}")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
