#!/usr/bin/env python3
"""Symmetric min-of-N bench comparison between two rounds.

The round-18 verdict caught an accounting artifact: comparing one round's
min-of-two against the other round's single committed record flips the
headline ratio (claimed 0.95x, symmetric truth 1.06x). This script makes
the comparison symmetric and reproducible from committed artifacts alone:
for each round it gathers EVERY committed BENCH_FULL_r{NN}*.json (worktree
first, then every version of every matching path in git history, so
records that were later clobbered/renamed still count), computes the
per-query minimum across all of them, and reports the shared-query
subtotal ratio, median per-query ratio, and every shared query whose
min-of-N ratio exceeds the regression threshold.

Records from hosts with different core counts are never pooled or
compared: each record's `cpus` field (the session's local[n]) names its
class, and a record without the field is its own "unknown" class.

Usage: python3 tools/benchcmp.py 17 18 [--threshold 1.25]
"""
import argparse
import glob
import json
import os
import statistics
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git_history_records(pattern):
    """Every distinct blob content ever committed at a path matching the
    round's pattern — catches records later clobbered or renamed away."""
    out = subprocess.run(
        ["git", "log", "--all", "--format=%H", "--name-only", "--", pattern],
        cwd=REPO, capture_output=True, text=True).stdout.splitlines()
    blobs, commit = set(), None
    for line in out:
        if not line.strip():
            continue
        if len(line) == 40 and all(c in "0123456789abcdef" for c in line):
            commit = line
        elif commit:
            blobs.add((commit, line))
    records = []
    for commit, path in blobs:
        show = subprocess.run(["git", "show", f"{commit}:{path}"],
                              cwd=REPO, capture_output=True, text=True)
        if show.returncode == 0:
            try:
                records.append((f"{commit[:7]}:{path}", json.loads(show.stdout)))
            except json.JSONDecodeError:
                pass
    return records


def round_records(rnd):
    pattern = f"BENCH_FULL_r{rnd:02d}*.json"
    records = []
    for path in sorted(glob.glob(os.path.join(REPO, pattern))):
        with open(path) as f:
            records.append((os.path.basename(path), json.load(f)))
    seen_queries = {json.dumps(r["queries"], sort_keys=True) for _, r in records}
    for name, rec in git_history_records(pattern):
        key = json.dumps(rec.get("queries", {}), sort_keys=True)
        if key not in seen_queries:
            seen_queries.add(key)
            records.append((name, rec))
    return records


def core_class(records):
    """The one core count the records share ("unknown" for records that
    predate the field); refuses records of mixed classes."""
    classes = {str(rec.get("cpus", "unknown")) for _, rec in records}
    if len(classes) > 1:
        raise SystemExit("records come from different core counts %s; "
                         "refusing to pool them" % sorted(classes))
    return classes.pop()


def min_of_n(records):
    mins = {}
    for _, rec in records:
        for q, sec in rec.get("queries", {}).items():
            if q not in mins or sec < mins[q]:
                mins[q] = sec
    return mins


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("round_a", type=int)
    ap.add_argument("round_b", type=int)
    ap.add_argument("--threshold", type=float, default=1.25)
    args = ap.parse_args()

    recs_a, recs_b = round_records(args.round_a), round_records(args.round_b)
    for rnd, recs in ((args.round_a, recs_a), (args.round_b, recs_b)):
        print(f"r{rnd}: {len(recs)} record(s): "
              + ", ".join(n for n, _ in recs))
        if not recs:
            raise SystemExit(f"no committed records for round {rnd}")
    cores_a, cores_b = core_class(recs_a), core_class(recs_b)
    if cores_a != cores_b:
        raise SystemExit(f"r{args.round_a} ran on {cores_a} cores and r{args.round_b} "
                         f"on {cores_b}; refusing to compare them")
    a, b = min_of_n(recs_a), min_of_n(recs_b)
    shared = sorted(set(a) & set(b))
    only_b = sorted(set(b) - set(a))
    sub_a, sub_b = sum(a[q] for q in shared), sum(b[q] for q in shared)
    ratios = {q: b[q] / a[q] for q in shared if a[q] > 0}
    print(f"\nshared queries: {len(shared)}  "
          f"new in r{args.round_b}: {len(only_b)} "
          f"(+{sum(b[q] for q in only_b):.1f}s min-of-N)")
    print(f"subtotal min-of-N: r{args.round_a} {sub_a:.1f}s -> "
          f"r{args.round_b} {sub_b:.1f}s = {sub_b / sub_a:.3f}x")
    print(f"median per-query ratio: {statistics.median(ratios.values()):.3f}")
    regress = {q: r for q, r in ratios.items() if r > args.threshold}
    print(f"\nregressions >{args.threshold}x: {len(regress)}")
    for q in sorted(regress, key=lambda q: -regress[q]):
        print(f"  {q}: {a[q]:.2f} -> {b[q]:.2f}  ({regress[q]:.2f}x)")
    wins = {q: r for q, r in ratios.items() if r < 1 / args.threshold}
    print(f"wins <{1/args.threshold:.2f}x: {len(wins)}")
    for q in sorted(wins, key=lambda q: wins[q])[:10]:
        print(f"  {q}: {a[q]:.2f} -> {b[q]:.2f}  ({wins[q]:.2f}x)")


if __name__ == "__main__":
    main()
