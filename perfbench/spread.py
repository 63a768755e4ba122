#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Usage: python3 perfbench/spread.py <workload> <first_seed> <runs> [seconds]

Runs the benchmark `runs` times on one workload with consecutive seeds and
prints, per end-to-end metric, the median and the distance between the first
and third quartile as a share of the median, next to the metric's bound.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    w, first, runs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    secs = sys.argv[4] if len(sys.argv) > 4 else str(bench["run_seconds"])
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(first, first + runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(seed), "--seconds", secs, "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            sys.exit(1)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{w} {m['name']}: median {statistics.median(xs):.4g} "
              f"iqr/median {(q3 - q1) / med:.3f} (bound {m['bound']})")


if __name__ == "__main__":
    main()
