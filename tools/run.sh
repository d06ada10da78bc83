#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars,
# bypassing sbt startup. Usage: tools/run.sh graft.Verify <args...>
set -e
# the checkout this script lives in: its own compiled classes, never
# another checkout's
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
# Heap: SPARK_DRIVER_MEM when set, else half of physical memory capped at
# 24g (an 8g heap produced multi-ten-second full-GC stalls in the heavier
# probes: PQ encode, the 1M-row engine lifecycle).
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS -Xmx"$HEAP" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
