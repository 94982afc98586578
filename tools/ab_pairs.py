#!/usr/bin/env python3
"""A/B pairs of benchmark runs between two graft checkouts.

Usage:
  python3 tools/ab_pairs.py --base <checkout> --change <checkout>
      --workload <name>[,<name>...] --seeds 11-20 --out ab.json

For each workload in turn and each seed it runs `graftbench/run.py
--trace 0` once in each checkout, one run at a time, alternating which side
goes first (base first on the first seed). Every run's summary line, for
every workload, is written to the --out JSON file as the runs finish. After
each workload's pairs it prints, for each end-to-end metric in
BENCHMARK.json: both medians and quartiles, how many pairs the change won,
whether the claim rule holds (the change wins at least 9 of every 10
pairs, and its median beats the base median by more than the base's
interquartile range), and the no-regression verdict against the metric's
`bound`: `ok` when the change's median is no worse than the base median by
more than the bound (relative), `WORSE` when it is, and `unresolved` when
the base's IQR/median exceeds the bound (the runs spread too widely to
tell) unless every change run beats every base run. It refuses to report,
and stops, if any run was incorrect or had failed ops. It only reads
run.py's output.

With --traced it instead runs `graftbench/run.py --trace 1` once per side
for each workload (seed: the first of --seeds) and prints every per-layer
metric of BENCHMARK.json side by side: base, change and their difference.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds, trace=0):
    p = subprocess.run([sys.executable, os.path.join(checkout, "graftbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"{checkout} seed {seed}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def verdict(base, change, bound, lower):
    """The no-regression rule for one metric: ok, WORSE or unresolved."""
    mb, mc = statistics.median(base), statistics.median(change)
    q1, q3 = quartiles(base)
    better = (max(change) < min(base)) if lower else (min(change) > max(base))
    if mb and (q3 - q1) / abs(mb) > bound and not better:
        return "unresolved"
    worse = (mc - mb) if lower else (mb - mc)
    return "WORSE" if worse > bound * abs(mb) else "ok"


def refuse_bad(workload, runs):
    """Exit if any of the runs was incorrect or had failed ops."""
    bad = [r for r in runs if not r["summary"]["correct"] or r["summary"]["failed"]]
    if bad:
        for r in bad:
            print(f"{workload} seed {r['seed']} {r['side']}: "
                  f"correct={r['summary']['correct']} failed={r['summary']['failed']}")
        sys.exit("refusing to report: a run was incorrect or had failed ops")


def report_traced(workload, runs, bench):
    """Print one workload's per-layer metrics, base beside change."""
    refuse_bad(workload, runs)
    got = {r["side"]: r["summary"]["metrics"] for r in runs}

    def cell(v, spec="12.4f"):
        return f"{'-':>12s}" if v is None else format(v, spec)

    print(f"{workload}: traced, seed {runs[0]['seed']}")
    print(f"{'metric':22s} {'base':>12s} {'change':>12s} {'delta':>12s}  unit")
    for m in bench["per_layer"]:
        b, c = (got[side].get(m["name"], {}).get("value") for side in ("base", "change"))
        delta = None if b is None or c is None else c - b
        print(f"{m['name']:22s} {cell(b)} {cell(c)} {cell(delta, '+12.4f')}  {m['unit']}",
              flush=True)


def report(workload, runs, bench, sides, seed_spec):
    """Print one workload's table; exit if any of its runs was bad."""
    refuse_bad(workload, runs)

    pairs = len(runs) // 2
    print(f"{workload}: {pairs} pairs, seeds {seed_spec}")
    print(f"{'metric':12s} {'base med [q1, q3]':>34s} {'change med [q1, q3]':>34s} "
          f"{'delta':>7s} {'wins':>6s}  {'claim':5s}  bound")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        val = {(r["seed"], r["side"]): r["summary"]["metrics"][name]["value"] for r in runs}
        by_side = {side: [val[(s, side)] for s in seeds(seed_spec)] for side in sides}
        wins = sum(1 for s in seeds(seed_spec)
                   if (val[(s, "change")] < val[(s, "base")]) == lower
                   and val[(s, "change")] != val[(s, "base")])
        med = {side: statistics.median(xs) for side, xs in by_side.items()}
        qs = {side: quartiles(xs) for side, xs in by_side.items()}
        gain = (med["base"] - med["change"]) if lower else (med["change"] - med["base"])
        iqr = qs["base"][1] - qs["base"][0]
        holds = wins * 10 >= 9 * pairs and gain > iqr
        cell = {side: f"{med[side]:.4f} [{qs[side][0]:.4f}, {qs[side][1]:.4f}]" for side in sides}
        delta = (med["change"] - med["base"]) / med["base"] if med["base"] else 0.0
        rule = verdict(by_side["base"], by_side["change"], m["bound"], lower)
        print(f"{name:12s} {cell['base']:>34s} {cell['change']:>34s} {delta:+7.1%} "
              f"{wins:>2d}/{pairs:<3d}  {'holds' if holds else 'no':5s}  {rule} "
              f"(±{m['bound']:.0%})", flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True,
                    help="one workload, or a comma-separated list run in turn")
    ap.add_argument("--seeds", required=True, help="e.g. 11-20")
    ap.add_argument("--out", required=True, help="JSON file for every run's summary line")
    ap.add_argument("--traced", action="store_true",
                    help="one --trace 1 run per side per workload; print the per-layer metrics")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.base, "BENCHMARK.json")))
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    runs = []
    for workload in a.workload.split(","):
        mine = []
        plan = [(seeds(a.seeds)[0], ["base", "change"])] if a.traced else \
            [(seed, ["base", "change"] if i % 2 == 0 else ["change", "base"])
             for i, seed in enumerate(seeds(a.seeds))]
        for seed, order in plan:
            for side in order:
                t = time.time()
                summary = run(sides[side], workload, seed, bench["run_seconds"],
                              trace=int(a.traced))
                mine.append({"workload": workload, "seed": seed, "side": side,
                             "first": side == order[0], "summary": summary})
                with open(a.out, "w") as fh:
                    json.dump(runs + mine, fh, indent=1)
                print(f"{workload} seed {seed} {side}: correct={summary['correct']} "
                      f"failed={summary['failed']} wall={time.time() - t:.1f}s", flush=True)
        runs += mine
        if a.traced:
            report_traced(workload, mine, bench)
        else:
            report(workload, mine, bench, sides, a.seeds)


if __name__ == "__main__":
    main()
