#!/usr/bin/env python3
"""Compares two benchmark records (as written to .bench_build/records/)
metric by metric. Refuses records taken at different core counts or
Spark masters, which are not comparable.

    python3 perfbench/compare.py <before.json> <after.json>
"""
import json
import sys


def main():
    a, b = (json.load(open(p)) for p in sys.argv[1:3])
    for key in ("nproc", "spark_master"):
        if a["host"][key] != b["host"][key]:
            sys.exit(f"refusing to compare: {key} {a['host'][key]} != {b['host'][key]}")
    if a["workload"] != b["workload"]:
        sys.exit(f"refusing to compare workloads {a['workload']} and {b['workload']}")
    for name, m in a["metrics"].items():
        if name in b["metrics"]:
            x, y = m["value"], b["metrics"][name]["value"]
            rel = f"{(y - x) / x:+.1%}" if x else "n/a"
            print(f"{name:36s} {x:14.4f} {y:14.4f} {rel:>8s} {m['unit']}")


if __name__ == "__main__":
    main()
