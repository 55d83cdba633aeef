#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

    python3 tools/verifydiff.py BASE_DIR HEAD_DIR

Each query directory must exist on both sides, with equal schemas (field
names, types, nullability) and equal row multisets (row order ignored,
duplicates counted). oracle_sql.json must be identical. Prints one line
per differing query and exits 1 when anything differs, 0 when every
query matches. This pins behaviour offline, where the DuckDB oracle
(tools/selfcheck.py) cannot run.
"""
import math
import os
import sys
from collections import Counter

import pyarrow.parquet as pq

ORACLE = "oracle_sql.json"


def canon(v):
    """A hashable, order-preserving form of one parquet value; NaN equals NaN."""
    if isinstance(v, float) and math.isnan(v):
        return ("NaN",)
    if isinstance(v, dict):
        return tuple((k, canon(x)) for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def load(path):
    table = pq.read_table(path)
    rows = Counter(canon(tuple(r.values())) for r in table.to_pylist())
    return table.schema.remove_metadata(), rows


def queries(root):
    return {n for n in os.listdir(root) if os.path.isdir(os.path.join(root, n))}


def diff(base, head):
    problems = []
    with open(os.path.join(base, ORACLE), "rb") as b, \
            open(os.path.join(head, ORACLE), "rb") as h:
        if b.read() != h.read():
            problems.append(f"{ORACLE}: differs")
    qb, qh = queries(base), queries(head)
    for q in sorted(qb - qh):
        problems.append(f"{q}: missing on head")
    for q in sorted(qh - qb):
        problems.append(f"{q}: missing on base")
    same = 0
    for q in sorted(qb & qh):
        sb, rb = load(os.path.join(base, q))
        sh, rh = load(os.path.join(head, q))
        if not sb.equals(sh):
            problems.append(f"{q}: schema differs: {sb} vs {sh}")
        elif rb != rh:
            only_b = sum((rb - rh).values())
            only_h = sum((rh - rb).values())
            problems.append(f"{q}: rows differ ({only_b} only on base, "
                            f"{only_h} only on head)")
        else:
            same += 1
    return same, problems


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    same, problems = diff(argv[1], argv[2])
    for p in problems:
        print("DIFF " + p)
    print(f"== {same} identical / {len(problems)} differing ==")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
