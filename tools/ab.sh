#!/bin/bash
# Interleaved A/B bench: alternate HEAD (/root/repo) and BASE
# (/tmp/graft-base, a compiled worktree of the comparison commit)
# single-pass subset runs on the same host, min-of-N per side — the only
# methodology that cancels this host's bimodal 2-3x phase swings
# (BENCH_AB_r19.json). Usage: tools/ab.sh "q1,q2,..." [passes] [tag]
# Both sides run on SPARK_GRAFT_CPUS cores, by default all of this host's.
set -u
SUBSET="$1"; PASSES="${2:-3}"; TAG="${3:-ab}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
SF_DIR="$HOME/testdata/sf0.1"
for i in $(seq 1 "$PASSES"); do
  for side in head base; do
    dir=/root/repo; [ "$side" = base ] && dir=/tmp/graft-base
    (cd "$dir" && SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
      SPARK_GRAFT_ONLY="$SUBSET" SPARK_GRAFT_BENCH_PASSES=1 \
      SPARK_GRAFT_BENCH_OUT=/tmp/${TAG}_${side}_$i.json \
      SPARK_GRAFT_BENCH_WAREHOUSE=/tmp/${TAG}_wh_${side} \
      sbt -batch "runMain graft.Bench" > /tmp/${TAG}_${side}_$i.log 2>&1) \
      || echo "$side pass $i FAILED (see /tmp/${TAG}_${side}_$i.log)"
    echo "[ab] done $side pass $i"
  done
done
python3 - "$TAG" <<'EOF'
import json, sys
tag = sys.argv[1]
def mins(side):
    out = {}
    for i in range(1, 20):
        try:
            d = json.load(open(f"/tmp/{tag}_{side}_{i}.json"))
        except FileNotFoundError:
            continue
        for q, s in d["queries"].items():
            out[q] = min(out.get(q, 9e9), s)
    return out
h, b = mins("head"), mins("base")
tot_h = tot_b = 0.0
for q in sorted(set(h) & set(b), key=lambda q: -b[q]):
    tot_h += h[q]; tot_b += b[q]
    print(f"{q:42s} base {b[q]:7.2f}  head {h[q]:7.2f}  x{b[q]/h[q]:5.2f}")
if tot_h:
    print(f"{'TOTAL':42s} base {tot_b:7.2f}  head {tot_h:7.2f}  x{tot_b/tot_h:5.2f}")
EOF
