"""Checks of the benchmark itself.

    python3 perfbench/check.py smoke
        Every workload at a small scale for two seconds, untraced and
        traced: every named metric must be present and no op may fail.

    python3 perfbench/check.py steady [--runs 10] [--sets 2]
            [--workloads a,b] [--seed-base 1]
        Two sets of runs of the same code, each run with another seed. For
        every end-to-end metric it prints per set the median, the quartiles
        and the spread (interquartile range over median), and the change of
        the second median against the first, beside the bound BENCHMARK.json
        fixes. Exits 1 when a spread or a change of median exceeds its
        bound.

Run from the root of a checkout, like run.py.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen  # noqa: E402
import run  # noqa: E402


def one(workload, seed, seconds, trace, extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    context = json.loads(lines[-2])["context"] if len(lines) > 1 else {}
    return json.loads(lines[-1]), context


def smoke():
    bad = []
    # metrics.json describes each per-layer metric BENCHMARK.json names
    with open(os.path.join(HERE, "metrics.json")) as f:
        described = set(json.load(f))
    listed = set(run.units(1))
    if described != listed:
        bad.append(("metrics.json", sorted(described ^ listed)))
    for w in gen.WORKLOADS:
        for trace in (0, 1):
            r, ctx = one(w, 1, 2, trace, ("--scale", "0.4"))
            names = run.units(trace)
            missing = [m for m in names if m not in r["metrics"]]
            print(f"{w} trace={trace}: attempted={r['attempted']} "
                  f"failed={r['failed']} missing={missing}")
            if missing or r["failed"] or not r["correct"]:
                bad.append((w, trace, missing, ctx.get("failures")))
    if bad:
        print("SMOKE FAILED", json.dumps(bad))
        sys.exit(1)
    print("smoke ok")


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def steady(runs, sets, workloads, seed_base):
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    workloads = workloads or [w["name"] for w in bench["workloads"]]
    ok = True
    report = {}
    for w in workloads:
        per_set = []
        for s in range(sets):
            vals = {m["name"]: [] for m in metrics}
            for i in range(runs):
                seed = seed_base + s * runs + i
                r, _ = one(w, seed, seconds, 0)
                if r["failed"]:
                    print(f"{w} seed {seed}: {r['failed']} failed ops")
                    ok = False
                for m in metrics:
                    vals[m["name"]].append(r["metrics"][m["name"]]["value"])
            per_set.append(vals)
        report[w] = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            rows = [spread(v[name]) for v in per_set]
            change = None
            if len(rows) > 1:
                a, b = rows[0][0], rows[1][0]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                change = worse
                if worse > bound:
                    ok = False
            for med, q1, q3, sp in rows:
                if sp > bound:
                    ok = False
            report[w][name] = {"bound": bound, "sets": [
                {"median": r[0], "q1": r[1], "q3": r[2], "spread": r[3]}
                for r in rows], "second_worse_by": change}
            sp = " ".join(f"{r[3]:.3f}" for r in rows)
            meds = " ".join(f"{r[0]:.4g}" for r in rows)
            print(f"{w:16s} {name:14s} bound={bound:<5} spread={sp} "
                  f"medians={meds} worse_by={change if change is None else round(change, 4)}")
    print(json.dumps(report))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("smoke", "steady"))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed-base", type=int, default=1)
    a = ap.parse_args()
    if a.mode == "smoke":
        smoke()
    else:
        steady(a.runs, a.sets, [w for w in a.workloads.split(",") if w],
               a.seed_base)


if __name__ == "__main__":
    main()
