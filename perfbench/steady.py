#!/usr/bin/env python3
"""Steadiness check for the benchmark.

    python3 perfbench/steady.py [--workloads a,b] [--runs 5] [--first-seed 1] [--trace-repeats 2]

Runs every workload --runs times with seeds first-seed, first-seed+1, ...
and prints, per end-to-end metric, the median and the spread (distance
between the first and third quartile, as a share of the median) against
the metric's bound in BENCHMARK.json; a spread above a third of its bound
is flagged. Then runs the traced run --trace-repeats times with one seed
and flags every per-layer count (any metric not in milliseconds or a
percentage) that does not repeat exactly. Exits non-zero if a run fails or
a spread exceeds its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    cmd = command + ["--workload", workload, "--seed", str(seed),
                     "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print("  run failed: %s seed %d trace %d (exit %d)" % (workload, seed, trace, p.returncode))
        return None
    return json.loads(lines[-1])


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace-repeats", type=int, default=2)
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        results = []
        for i in range(args.runs):
            r = run(w, args.first_seed + i, spec["run_seconds"], 0)
            ok &= r is not None and r["correct"]
            if r:
                results.append(r)
                print("  %s seed %d: %s" % (w, args.first_seed + i, ", ".join(
                    "%s=%.4g" % (k, v["value"]) for k, v in r["metrics"].items())), flush=True)
        print("%s: %d of %d runs" % (w, len(results), args.runs))
        if len(results) >= 2:
            for m in spec["end_to_end"]:
                med, s = spread([r["metrics"][m["name"]]["value"] for r in results])
                flag = "OVER BOUND" if s > m["bound"] else "over 1/3 bound" if s > m["bound"] / 3 else "ok"
                if s > m["bound"] and m["name"] != "setup_s":
                    ok = False
                print("  %-14s median %-12.5g spread %6.3f  bound %.3f  %s"
                      % (m["name"], med, s, m["bound"], flag))
        traced = [run(w, args.first_seed, spec["run_seconds"], 1) for _ in range(args.trace_repeats)]
        traced = [t for t in traced if t]
        ok &= len(traced) == args.trace_repeats
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        counts = [n for n, u in units.items() if u not in ("ms", "%")]
        differ = [n for n in counts if len({t["metrics"][n]["value"] for t in traced}) > 1]
        print("  traced: %d runs, %d counts, %d differ across runs with one seed%s"
              % (len(traced), len(counts), len(differ), (": " + ", ".join(differ)) if differ else ""))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
