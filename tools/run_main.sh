#!/bin/bash
# Run a graft main outside sbt (no sbt lock): tools/run_main.sh [-cp DIR] <mainClass> [args...]
# Mirrors build.sbt's forked-JVM flags (JDK17 add-opens + heap).
#
# It runs the classes that are in target/ (or DIR) as they are and does not
# compile: target/ may hold another build's classes. Run `sbt compile` in the
# checkout first, before every measurement, the parent's included.
# Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to 2-8 GB (as the
# Tier-1 line in ROADMAP.md sets it).
set -e
CLASSES="target/scala-2.13/classes"
if [ "$1" = "-cp" ]; then CLASSES="$2"; shift 2; fi
MAIN="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS -Xmx$HEAP \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$MAIN" "$@"
