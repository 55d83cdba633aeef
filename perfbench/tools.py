#!/usr/bin/env python3
"""Tooling over the benchmark's result records and traced sidecars.

Records and sidecars are written by run.py under .bench_build/records/:
  <workload>-s<seed>-t<0|1>.json   full result record (host, provenance, metrics)
  <workload>-s<seed>-t1.trace.json span and job sidecar of a traced run

Subcommands:
  selftime SIDECAR               self time per span name (duration minus the
                                 part of it its child spans cover)
  diff A B                       per-layer diff of two traced records, layer
                                 by layer (the part of the name before the
                                 first dot)
  overhead TRACED                trace.overhead_frac of a traced run: its
                                 traced passes alternate with untraced passes
                                 of the same seed and inputs; the median
                                 traced pass wall over the median untraced
                                 one after the first (the JVM still warms in
                                 the first), minus 1 (what the run reports)
  pool RECORD...                 median and quartile spread of every metric
                                 over runs of one workload; refuses records
                                 from hosts with different core counts
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    with open(path) as fh:
        return json.load(fh)


def union_us(intervals):
    """Total length covered by a set of [a, b) intervals."""
    total, cur_a, cur_b = 0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(sidecar):
    """{span name: (calls, total ms, self ms)} from a sidecar."""
    spans = sidecar["trace"]["spans"]
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append(s)
    out = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = s["end_us"] - s["start_us"]
        covered = union_us([(max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                            for c in kids[s["id"]]])
        row = out[s["name"]]
        row[0] += 1
        row[1] += dur / 1000.0
        row[2] += (dur - covered) / 1000.0
    return {k: tuple(v) for k, v in out.items()}


def layer_of(metric):
    return metric.split(".", 1)[0]


def diff(a, b):
    """[(layer, metric, unit, a, b, b/a - 1)] for metrics in either record."""
    la, lb = a.get("per_layer") or {}, b.get("per_layer") or {}
    rows = []
    for m in sorted(set(la) | set(lb), key=lambda m: (layer_of(m), m)):
        va = la.get(m, {}).get("value")
        vb = lb.get(m, {}).get("value")
        unit = (la.get(m) or lb.get(m))["unit"]
        rel = (vb / va - 1.0) if va not in (None, 0) and vb is not None else None
        rows.append((layer_of(m), m, unit, va, vb, rel))
    return rows


def overhead(traced):
    """Traced pass median / median of the untraced passes after the first,
    minus 1, of one traced run."""
    if (not traced.get("trace") or not traced["traced_pass_walls_s"]
            or len(traced["pass_walls_s"]) < 2):
        raise ValueError("overhead needs the record of a traced run")
    return (statistics.median(traced["traced_pass_walls_s"])
            / statistics.median(traced["pass_walls_s"][1:]) - 1.0)


def check_same_host(records):
    cores = {r["host"]["nproc"] for r in records}
    if len(cores) > 1:
        raise ValueError("records come from hosts with different core counts %s; "
                         "refusing to pool them" % sorted(cores))


def pool(records):
    """{metric: (n, median, q1, q3, (q3 - q1) / median)} over end-to-end metrics."""
    check_same_host(records)
    if len({r["workload"] for r in records}) > 1:
        raise ValueError("pool one workload at a time")
    values = defaultdict(list)
    for r in records:
        for m, v in (r.get("end_to_end") or {}).items():
            values[m].append(v["value"])
    out = {}
    for m, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        out[m] = (len(xs), med, q1, q3, (q3 - q1) / med if med else float("nan"))
    return out


def fmt(v):
    return "-" if v is None else "%.4g" % v


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("selftime").add_argument("sidecar")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    sub.add_parser("overhead").add_argument("traced")
    sub.add_parser("pool").add_argument("records", nargs="+")
    args = ap.parse_args(argv)
    try:
        if args.cmd == "selftime":
            rows = sorted(self_times(load(args.sidecar)).items(), key=lambda kv: -kv[1][2])
            print("%-28s %6s %12s %12s" % ("span", "calls", "total_ms", "self_ms"))
            for name, (n, tot, own) in rows:
                print("%-28s %6d %12.1f %12.1f" % (name, n, tot, own))
        elif args.cmd == "diff":
            a, b = load(args.a), load(args.b)
            check_same_host([a, b])
            print("%-10s %-34s %-6s %12s %12s %9s" % ("layer", "metric", "unit", "a", "b", "b/a-1"))
            for layer, m, unit, va, vb, rel in diff(a, b):
                print("%-10s %-34s %-6s %12s %12s %9s" % (
                    layer, m, unit, fmt(va), fmt(vb), "-" if rel is None else "%+.1f%%" % (100 * rel)))
        elif args.cmd == "overhead":
            print(json.dumps({"trace.overhead_frac": overhead(load(args.traced))}))
        elif args.cmd == "pool":
            for m, (n, med, q1, q3, spread) in sorted(pool([load(p) for p in args.records]).items()):
                print("%-18s n=%-3d median=%-12s q1=%-12s q3=%-12s spread=%.3f" % (
                    m, n, fmt(med), fmt(q1), fmt(q3), spread))
    except ValueError as e:
        sys.stderr.write("tools: %s\n" % e)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
