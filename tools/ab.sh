#!/usr/bin/env bash
# A/B config experiment and layer attribution: run the Bench protocol
# over a subset of lanes and scale probes with an optional
# SPARK_GRAFT_EXTRA_CONF overlay and print, per lane, the median next to
# that median sample's jobs, driver gap, codegen compiles, interpreted
# jobs and cache builds (from the record's `layers`), and per probe its
# t1x, t<r>x and exponent.
# Usage: tools/ab.sh <tag> "<lanes and <probe>_scale names, csv>" ["k=v;k2=v2"]
# SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS pass through (defaults: Bench's
# sf0.1 fixture dir, and every core via tools/run.sh). The full record is
# left in /tmp/ab_<tag>.json, Bench's stdout and stderr beside it.
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="$1"; LANES="$2"; CONF="${3:-}"
OUT="/tmp/ab_${TAG}.json"
rm -f "$OUT"
if ! SPARK_GRAFT_LANES="$LANES" SPARK_GRAFT_BENCH_OUT="$OUT" \
    SPARK_GRAFT_EXTRA_CONF="$CONF" \
    tools/run.sh graft.Bench > "/tmp/ab_${TAG}.stdout" 2> "/tmp/ab_${TAG}.stderr"; then
  grep -m 5 -E "Exception|Error" "/tmp/ab_${TAG}.stderr" >&2 || tail -n 5 "/tmp/ab_${TAG}.stderr" >&2
  exit 1
fi
python3 - "$OUT" "$TAG" "$LANES" <<'EOF'
import json, sys
d = json.load(open(sys.argv[1]))
tag = sys.argv[2]
qs = d["queries"]
if qs:
    print(f"[ab {tag}] total={sum(v for v in qs.values() if v >= 0):.2f}s")
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
# a probe that threw leaves no entry
for k in [n.strip() for n in sys.argv[3].split(",") if n.strip().endswith("_scale")]:
    p = d.get(k)
    if p is None:
        print(f"[ab {tag}] {k} failed")
        continue
    tr = next(f for f in p if f.startswith("t") and f.endswith("x") and f != "t1x")
    print(f"[ab {tag}] {k} t1x={p['t1x']:.2f}s {tr}={p[tr]:.2f}s"
          f" exponent={p['exponent']:.3f}")
EOF
