#!/bin/bash
# Direct-JVM launcher for graft mains — bypasses the sbt build lock so a
# long Verify can run in the background while sbt compiles/tests.
# Requires a prior `sbt compile`. Mirrors build.sbt's fork settings
# (JDK17 add-opens, SPARK_DRIVER_MEM heap).
#
# usage: tools/run_graft.sh [-Dspark.<key>=<value> ...] <MainClass> [args...]
#   env: SPARK_GRAFT_CPUS (read by GraftSession), SPARK_DRIVER_MEM
#   Leading -Dspark.* arguments become JVM system properties; Spark reads
#   them into the session's config when GraftSession builds it, e.g.
#   -Dspark.sql.adaptive.coalescePartitions.minPartitionSize=1b
REPO="$(cd "$(dirname "$0")/.." && pwd)"
PROPS=()
while [[ "$1" == -Dspark.* ]]; do PROPS+=("$1"); shift; done
MAIN=$1; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC "${PROPS[@]}" \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$MAIN" "$@"
