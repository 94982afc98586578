#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage (from the root of a graft checkout):
  python3 graftbench/steady.py --workload <name> [--seeds 1-10] [--out runs.jsonl]

Runs `run.py --trace 0` once per seed, one run at a time, and prints for
each end-to-end metric the median and the spread: the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json.
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


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {}
    for seed in seeds(a.seeds):
        t = time.time()
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            sys.exit(f"seed {seed}: exit {p.returncode}")
        last = json.loads(p.stdout.strip().splitlines()[-1])
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, **last}) + "\n")
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={last['correct']} failed={last['failed']} "
              f"wall={time.time() - t:.1f}s", flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        print(f"{m['name']:12s} median={med:.4f} spread={spread:.3f} bound={m['bound']} "
              f"{'ok' if spread < m['bound'] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
