#!/usr/bin/env bash
# Dev-only: run a graft main against the sbt-compiled classes without
# paying sbt JVM startup. Usage: tools/run_graft.sh <MainClass> [args...]
# Env: SPARK_DRIVER_MEM (default 8g) plus whatever the main reads
# (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_REPS, ...).
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MAIN="$1"; shift
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "graft.$MAIN" "$@"
