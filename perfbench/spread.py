#!/usr/bin/env python3
"""Runs a workload once per seed and prints, per end-to-end metric, the
median and the interquartile range as a share of the median.

    python3 perfbench/spread.py <workload> <seed>...
"""
import json
import statistics
import subprocess
import sys
import time


def main():
    workload, seeds = sys.argv[1], sys.argv[2:]
    seconds = str(json.load(open("BENCHMARK.json"))["run_seconds"])
    values = {}
    for seed in seeds:
        t0 = time.time()
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", seed, "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        res = json.loads(r.stdout.splitlines()[-1])
        print(seed, f"{time.time() - t0:.0f}s", r.returncode, res["correct"], res["failed"],
              {k: round(v["value"], 3) for k, v in res["metrics"].items()}, flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k}: median {statistics.median(vs):.4f} spread {(q3 - q1) / statistics.median(vs):.4f}")


if __name__ == "__main__":
    main()
