#!/bin/bash
# Run a graft main class with the same JVM setup sbt's forked runs use
# (JDK17 add-opens for Spark 4, UTC, no UI). Usage:
#   tools/run_main.sh graft.Verify /root/testdata/sf0.001 /tmp/verify_out
#   tools/run_main.sh graft.Probe Throughput 2500 bucketed
set -euo pipefail
cd "$(dirname "$0")/.."
SCALA_LIB=$(find "$HOME/.cache/coursier" "$HOME/.ivy2" -name 'scala-library-2.13*.jar' 2>/dev/null | head -1 || true)
CP="target/scala-2.13/classes:/opt/spark/jars/*:$SCALA_LIB"
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
