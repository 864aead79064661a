#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's spread.

    python3 perfbench/spread.py [--runs 10] [--trace 0] [workload ...]

For every end-to-end metric (per-layer with --trace 1) prints the median
of the runs and the quartile spread, (Q3 - Q1) / median, with Python's
statistics.quantiles(values, n=4), next to the metric's bound from
BENCHMARK.json. Seeds are 1..runs. Also flags any run that was not correct.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    ok = True
    for w in a.workloads:
        values, wrong = {}, []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-2000:])
                sys.exit(f"{w} seed {seed}: exit {p.returncode}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if not r["correct"] or r["failed"]:
                wrong.append(seed)
            for k, m in r["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()),
                flush=True)
        print(f"== {w}: {a.runs} runs, incorrect seeds: {wrong or 'none'}")
        ok &= not wrong
        for k, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else (" ok" if spread <= b / 3 else
                                         " WIDE" if spread > b else " >b/3")
            print(f"   {k:36s} median {med:12.5g}  spread {spread:7.4f}"
                  + (f"  bound {b}" if b is not None else "") + flag)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
