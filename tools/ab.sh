#!/usr/bin/env bash
# A/B config experiment and layer attribution: run the Bench protocol
# over a lane subset with an optional SPARK_GRAFT_EXTRA_CONF overlay and
# print, per lane, the median next to that median sample's jobs, driver
# gap, codegen compiles, interpreted jobs and cache builds (from the
# record's `layers`).
# Usage: tools/ab.sh <tag> "<lanes,csv>" ["k=v;k2=v2"]
# SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS pass through (defaults: Bench's
# sf0.1 fixture dir, and every core via tools/run.sh). The full record is
# left in /tmp/ab_<tag>.json.
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="$1"; LANES="$2"; CONF="${3:-}"
OUT="/tmp/ab_${TAG}.json"
SPARK_GRAFT_LANES="$LANES" \
SPARK_GRAFT_RETRY_WORST=0 SPARK_GRAFT_BENCH_OUT="$OUT" \
SPARK_GRAFT_EXTRA_CONF="$CONF" \
  tools/run.sh graft.Bench > /tmp/ab_${TAG}.stdout 2>/dev/null || true
python3 - "$OUT" "$TAG" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
tag = sys.argv[2]
qs = d["queries"]
total = sum(v for v in qs.values() if v >= 0)
print(f"[ab {tag}] total={total:.2f}s")
for k, v in sorted(qs.items()):
    ts = d["samples"][k]
    if v < 0:
        print(f"[ab {tag}] {k} failed")
        continue
    # the sample nearest the median (the median itself at 3 samples)
    i = min(range(len(ts)), key=lambda j: abs(ts[j] - v))
    l = d.get("layers", {}).get(k, [])
    attr = (f" jobs={l[i]['jobs']} driver_gap={l[i]['driver_gap_s']:.2f}s"
            f" compiles={l[i]['compiles']} interpreted_jobs={l[i]['interpreted_jobs']}"
            f" cache_builds={l[i]['cache_builds']}"
            if i < len(l) else "")
    print(f"[ab {tag}] {k}={v:.2f}s{attr}")
EOF
