#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt lock needed).
# Usage: [SPARK_DRIVER_MEM=16g] [SPARK_GRAFT_SF_DIR=...] dev/run_main.sh graft.BenchOne g_pagerank target/sf1 1
set -euo pipefail
cd "$(dirname "$0")/.."
MEM="${SPARK_DRIVER_MEM:-8g}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Heap pinned + pre-touched (r12): growable-heap commit/uncommit churn
# fault-storms the kernel and serializes executors — see build.sbt.
exec java -Xms"$MEM" -Xmx"$MEM" -XX:+AlwaysPreTouch $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
