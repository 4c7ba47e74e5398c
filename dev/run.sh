#!/bin/bash
# Run a graft main class directly against the compiled classes (fast path,
# skips sbt startup). Usage: dev/run.sh graft.Verify /root/testdata/sf0.01 /tmp/out
set -e
# the checkout this script lives in, so a second clone runs its own classes
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CLASS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*" \
  "$CLASS" "$@"
