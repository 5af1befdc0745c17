#!/bin/bash
# Run a graft main class directly against compiled classes + $SPARK_HOME/jars
# (no sbt — decouples long runs from concurrent source edits/recompiles).
# The test classes are on the classpath too, for the test-side mains
# (Fuzz, RecallProbe, StreamProbe): run `sbt Test/compile` first.
# Usage: tools/run_main.sh <mainClass> [args...]
MAIN="$1"; shift
REPO="$(cd "$(dirname "$0")/.." && pwd)"
: "${SPARK_HOME:?set SPARK_HOME to the Spark install whose jars graft builds against}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# 512m code cache mirrors build.sbt's forked javaOptions (see note
# there); GRAFT_JVM_OPTS appends/overrides for experiments.
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-16g} \
  -XX:ReservedCodeCacheSize=512m $GRAFT_JVM_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$REPO/target/scala-2.13/test-classes:$SPARK_HOME/jars/*" \
  "$MAIN" "$@"
