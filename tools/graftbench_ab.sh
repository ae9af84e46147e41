#!/usr/bin/env bash
# Paired graftbench A/B of a parent revision against the working tree.
#
#   tools/graftbench_ab.sh <parent-rev> <workload> <seed>...
#
# Exports <parent-rev> and a snapshot of the working tree (tracked and
# untracked files, .gitignore respected) with `git archive` into two plain
# directories under a fresh directory in ${TMPDIR:-/tmp}, then runs
# `graftbench/run.py --workload <workload> --seed <seed> --seconds 1
# --trace 0` once per side per seed, alternating which side goes first.
# Each side builds before its first run, outside the measured JVM. Per
# end-to-end metric it prints each side's median and quartiles, how many
# of the pairs the change won, and a verdict against BENCHMARK.json:
#   gain        over at least 10 pairs, the change wins at least 9/10 of
#               them and its median is better than the parent's by more
#               than the parent's IQR
#   worse       the change's median is worse than the parent's by more
#               than the metric's bound (a fraction of the parent median)
#   unresolved  the parent's own IQR exceeds the bound
#   no worse    otherwise
# The two source trees are removed on exit; the raw JSON lines and logs
# stay in the printed results directory.
set -euo pipefail

if [ "$#" -lt 3 ]; then
  echo "usage: $0 <parent-rev> <workload> <seed>..." >&2
  exit 2
fi
PARENT="$1"; WORKLOAD="$2"; shift 2
ROOT="$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)"
cd "$ROOT"

parent_rev="$(git rev-parse --verify "$PARENT^{commit}")"
OUT="$(mktemp -d "${TMPDIR:-/tmp}/graftbench-ab.XXXXXX")"
trap 'rm -rf "$OUT/parent" "$OUT/change"' EXIT
# the working tree as a commit, without touching the index or HEAD
cp "$(git rev-parse --git-path index)" "$OUT/index"
GIT_INDEX_FILE="$OUT/index" git add -A
change_rev="$(git -c user.name=graftbench -c user.email=graftbench@localhost \
  commit-tree "$(GIT_INDEX_FILE="$OUT/index" git write-tree)" -p HEAD -m "graftbench A/B snapshot")"
mkdir "$OUT/parent" "$OUT/change"
git archive "$parent_rev" | tar -x -C "$OUT/parent"
git archive "$change_rev" | tar -x -C "$OUT/change"
echo "parent $parent_rev, change $change_rev (working tree), results in $OUT" >&2

run() {  # <side> <seed>: append the run's JSON line to $OUT/<side>.jsonl
  local line
  line="$(cd "$OUT/$1" && python3 graftbench/run.py --workload "$WORKLOAD" \
    --seed "$2" --seconds 1 --trace 0 2>>"$OUT/$1.log" | tail -n 1)" || true
  case "$line" in
    "{"*) echo "$line" >> "$OUT/$1.jsonl" ;;
    *) echo '{"correct": false, "attempted": 1, "failed": 1, "metrics": {}}' >> "$OUT/$1.jsonl" ;;
  esac
  echo "$1 seed $2: ${line:0:160}" >&2
}

i=0
for seed in "$@"; do
  if [ $((i % 2)) -eq 0 ]; then run parent "$seed"; run change "$seed"
  else run change "$seed"; run parent "$seed"; fi
  i=$((i + 1))
done

python3 - "$OUT" "$ROOT/BENCHMARK.json" <<'EOF'
import json, statistics, sys
out, bench = sys.argv[1], json.load(open(sys.argv[2]))
rows = {s: [json.loads(l) for l in open(f"{out}/{s}.jsonl")] for s in ("parent", "change")}

def quart(v):
    if len(v) < 2:
        return (v[0], v[0], v[0]) if v else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3

for side, rs in rows.items():
    print(f"{side}: {sum(r['failed'] for r in rs)} failed of {sum(r['attempted'] for r in rs)} passes")
print(f"{'metric':<14} {'parent median (q1-q3)':>28} {'change median (q1-q3)':>28} {'change wins':>12}  verdict")
for m in bench["end_to_end"]:
    name, lower = m["name"], m["better"] == "lower"
    pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
             for p, c in zip(rows["parent"], rows["change"])
             if name in p["metrics"] and name in c["metrics"]]
    p, c = [a for a, _ in pairs], [b for _, b in pairs]
    wins = sum((b < a) if lower else (b > a) for a, b in pairs)
    pq, cq = quart(p), quart(c)
    gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])  # > 0: change better
    allowed = m["bound"] * abs(pq[1])
    if not pairs:
        verdict = "no runs"
    elif len(pairs) >= 10 and 10 * wins >= 9 * len(pairs) and gap > pq[2] - pq[0]:
        verdict = "gain"
    elif -gap > allowed:
        verdict = "worse"
    elif pq[2] - pq[0] > allowed:
        verdict = "unresolved"
    else:
        verdict = "no worse"
    print(f"{name:<14} {pq[1]:>12.4g} ({pq[0]:.4g}-{pq[2]:.4g}) "
          f"{cq[1]:>12.4g} ({cq[0]:.4g}-{cq[2]:.4g}) {wins:>6}/{len(pairs)}  {verdict}")
EOF
