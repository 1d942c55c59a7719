#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on one workload and prints, for every
metric, the median of the runs and the distance between the first and
third quartile as a share of the median (statistics.quantiles, n=4).

Usage (from the repository root):
    python3 perfbench/spread.py --workload oltp_mixed --seeds 1 2 3 4 5 --seconds 10
"""
import argparse
import json
import statistics
import subprocess
import sys
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    runs = []
    for seed in args.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                              "--workload", args.workload, "--seed", str(seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace)],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            print("seed %d: exit %d" % (seed, out.returncode))
            continue
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        runs.append(result)
        per_class = [l.split()[:2] for l in lines if ".p50_ms" in l or ".tail_ms" in l]
        print("seed %d per class: %s" % (seed, " ".join("%s=%s" % tuple(c) for c in per_class)))
        print("seed %d: correct=%s attempted=%d failed=%d %s" % (
            seed, result["correct"], result["attempted"], result["failed"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in result["metrics"].items())),
            flush=True)
    if len(runs) < 2:
        return 1
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q = statistics.quantiles(values, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-32s median %-12.5g IQR/median %.4f" % (name, med, spread))
    return 0


if __name__ == "__main__":
    sys.exit(main())
