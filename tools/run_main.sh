#!/bin/bash
# Launch a graft main against the compiled classes without sbt (frees the
# sbt lock for development while long scale runs execute).
# Usage: tools/run_main.sh <MainClass> [args...]
# Env: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM (default 8g), plus the main's own env.
set -e
MEM="${SPARK_DRIVER_MEM:-8g}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx"$MEM" \
  -cp "${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*" "$@"
