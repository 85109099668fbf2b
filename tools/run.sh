#!/bin/bash
# Run a graft main class directly on the compiled classes (bypasses sbt).
# Usage: tools/run.sh <mainClass> [args...]   (env: SPARK_* as usual, JVM_MEM)
# Spark's jars come from $SPARK_HOME/jars, else from next to spark-submit.
CLS="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${JVM_MEM:-8g} \
  -cp "$ROOT/target/scala-2.13/classes:$SPARK_HOME/jars/*" "$CLS" "$@"
