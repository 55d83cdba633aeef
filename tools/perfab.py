#!/usr/bin/env python3
"""Interleaved A/B of the perfbench benchmark between two checkouts.

Usage:
  python3 tools/perfab.py --base DIR [--change DIR] [--workload W ...]
                          [--pairs N] [--seed0 S] [--out FILE]

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
unchanged in the root of each checkout, N pairs per workload. Pair i uses
the fresh seed S + i on both sides and alternates which side runs first.
The run length T is `run_seconds` from the change's BENCHMARK.json, and so
are the workloads (unless named) and the end-to-end metrics with their
direction and bound. Each checkout builds on its first run.

Per workload and end-to-end metric it prints each side's median and
quartiles, the change of the medians, the pairs the change won (ties count
for neither side), the parent's interquartile range, and a verdict:
  gain     the change won at least 9/10 of the pairs and the medians differ
           by more than the parent's interquartile range;
  WORSE    the change's median is worse than the parent's by more than the
           metric's bound;
  -        neither.
Runs that fail or report `correct: false` are counted per side and left
out of the numbers. `--out` writes every run's result line as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout, workload, seed, seconds):
    """The result line of one run, or None when the run failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except ValueError:
        res = None
    sys.stderr.write("perfab: %-12s %-6s seed %-5d exit %d in %.0f s\n" % (
        workload, os.path.basename(os.path.normpath(checkout)), seed,
        p.returncode, time.time() - t0))
    return res if p.returncode == 0 and res and res.get("correct") else None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def report(workload, metrics, pairs):
    """Print one workload's table from `pairs`: [(base_result, change_result)]."""
    print("== %s: %d pairs, %d base and %d change runs failed ==" % (
        workload, len(pairs), sum(b is None for b, _ in pairs),
        sum(c is None for _, c in pairs)))
    print("%-18s %-26s %-26s %8s %6s %9s %s" % (
        "metric", "base median [q1, q3]", "change median [q1, q3]",
        "change", "won", "base IQR", "verdict"))
    verdicts = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        both = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                for b, c in pairs if b and c
                and name in b["metrics"] and name in c["metrics"]]
        if not both:
            continue
        base = [b for b, _ in both]
        change = [c for _, c in both]
        bm, cm = statistics.median(base), statistics.median(change)
        (b1, b3), (c1, c3) = quartiles(base), quartiles(change)
        won = sum((c < b) if lower else (c > b) for b, c in both)
        iqr = b3 - b1
        rel = (cm / bm - 1.0) if bm else 0.0
        worse = rel > m["bound"] if lower else -rel > m["bound"]
        better = cm < bm if lower else cm > bm
        if better and won >= 0.9 * len(both) and abs(cm - bm) > iqr:
            verdict = "gain"
        elif worse:
            verdict = "WORSE"
        else:
            verdict = "-"
        verdicts[name] = verdict
        print("%-18s %-26s %-26s %+7.1f%% %3d/%-2d %9.4g %s" % (
            name, "%.4g [%.4g, %.4g]" % (bm, b1, b3),
            "%.4g [%.4g, %.4g]" % (cm, c1, c3), 100 * rel, won, len(both),
            iqr, verdict))
    return verdicts


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change (default: this one)")
    ap.add_argument("--workload", action="append", help="workload to run (repeatable)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", help="write every run's result line here as JSON")
    args = ap.parse_args(argv)
    bench = json.load(open(os.path.join(args.change, "BENCHMARK.json")))
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    runs = {w: [] for w in workloads}
    for i in range(args.pairs):
        seed = args.seed0 + i
        for w in workloads:
            order = [("base", args.base), ("change", args.change)]
            if i % 2:
                order.reverse()
            got = {side: run_once(d, w, seed, bench["run_seconds"]) for side, d in order}
            runs[w].append({"seed": seed, "first": order[0][0], **got})
            if args.out:
                with open(args.out, "w") as f:
                    json.dump(runs, f, indent=1)
    worse = False
    for w in workloads:
        v = report(w, bench["end_to_end"], [(r["base"], r["change"]) for r in runs[w]])
        worse |= "WORSE" in v.values()
        print()
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
