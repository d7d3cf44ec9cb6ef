#!/usr/bin/env python3
"""Compare two checkouts on the federation benchmark in interleaved pairs.

    python3 scripts/bench_pairs.py --parent <dir> --change <dir> \
        --workload fed_ingest [--pairs 10] [--seed 5] [--seconds 16] \
        [--trace 0] [--json out.json]

Each pair runs `perfbench/run.py` once in each checkout, with the same
workload, seed and length; the order alternates from pair to pair (the
parent first in even pairs), so a drift in the machine's speed does not
favour one side. Each checkout builds itself on its first run.

For every metric of BENCHMARK.json (the end-to-end ones, or the per-layer
ones with --trace 1) it prints the value of each pair, the median of each
side, how many pairs the change won (by the metric's `better`
direction), and the interquartile range of the parent's runs. A claimed
gain holds when the change wins nearly every pair and the median gain is
larger than that range. A run that fails is reported and ends the script.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, a):
    """One benchmark run in `checkout`: (metrics by name, result line)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"bench_pairs: run in {checkout} exited with {r.returncode}")
    result = json.loads(lines[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}, result


def iqr(values):
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json", help="write every run's result line here")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["per_layer" if a.trace else "end_to_end"]
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    raw = []
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            values, result = run(sides[side], a)
            runs[side].append(values)
            raw.append({"pair": i, "side": side, "result": result})
            print(f"pair {i} {side}: failed {result['failed']} of "
                  f"{result['attempted']}", file=sys.stderr, flush=True)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(raw, f, indent=1)

    print(f"{a.workload}, seed {a.seed}, {a.pairs} pairs "
          f"(parent/change per pair)")
    for m in metrics:
        name = m["name"]
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        lower = m["better"] == "lower"
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        mp, mc = statistics.median(p), statistics.median(c)
        gain = (mp - mc) if lower else (mc - mp)
        pairs = ", ".join(f"{x:g}/{y:g}" for x, y in zip(p, c))
        print(f"{name} [{m['unit']}, {m['better']} is better]: {pairs}")
        print(f"  median {mp:g} -> {mc:g} "
              f"({100 * (mc - mp) / mp if mp else 0:+.1f} %), "
              f"change better in {wins} of {len(p)}, "
              f"median gain {gain:g}, parent IQR {iqr(p):g}")


if __name__ == "__main__":
    main()
