#!/bin/bash
# Run a graft main class against the compiled classes without sbt startup
# overhead: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
