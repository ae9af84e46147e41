#!/usr/bin/env bash
# Dev-only A/B config experiment: run the Bench protocol over a lane
# subset with an optional SPARK_GRAFT_EXTRA_CONF overlay, print the
# per-lane medians. Usage: tools/ab.sh <tag> "<lanes,csv>" ["k=v;k2=v2"]
# SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS pass through (defaults: Bench's
# sf0.1 fixture dir, and every core via tools/run.sh).
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="$1"; LANES="$2"; CONF="${3:-}"
OUT="/tmp/ab_${TAG}.json"
SPARK_GRAFT_LANES="$LANES" SPARK_GRAFT_PROBES=none \
SPARK_GRAFT_RETRY_WORST=0 SPARK_GRAFT_BENCH_OUT="$OUT" \
SPARK_GRAFT_EXTRA_CONF="$CONF" \
  tools/run.sh graft.Bench > /tmp/ab_${TAG}.stdout 2>/dev/null || true
python3 - "$OUT" "$TAG" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
qs = d["queries"]
total = sum(v for v in qs.values() if v >= 0)
print(f"[ab {sys.argv[2]}] total={total:.2f}s " +
      " ".join(f"{k}={v:.2f}" for k, v in sorted(qs.items())))
EOF
