#!/usr/bin/env bash
# Run a graft main (Bench/Verify) against the compiled classes without
# sbt JVM startup. Usage:
#   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
#     tools/run.sh graft.Bench [args...]
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# defaults sized to the host: every core, and half the memory clamped to
# 2-8 GiB
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  </proc/meminfo 2>/dev/null || echo 2g)"
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-$HEAP}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "$MAIN" "$@"
