#!/usr/bin/env bash
# Run a graft main class with plain `java` against a SNAPSHOT of the
# compiled classes (so concurrent `sbt compile` of new code can't swap
# class files under a running JVM) — keeps the sbt build lock free
# while multi-minute jobs (ScaleGen/Verify/Bench and the rehearsal mains)
# run in the background. Mirrors build.sbt's forked-run JVM flags.
#
# Usage: [CLS_SNAP=dir] scripts/java_run.sh <mainClass> [args...]
#
# The default snapshot, /tmp/graft_cls, is refreshed whenever
# target/scala-2.13/classes holds a class file newer than it. An
# explicitly set CLS_SNAP stays pinned: it is filled only when absent.
# Spark's jars come from ${SPARK_HOME:-/opt/spark}/jars.
set -euo pipefail
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CLASSES="$ROOT/target/scala-2.13/classes"
SNAP="${CLS_SNAP:-/tmp/graft_cls}"
if [ -z "${CLS_SNAP:-}" ] && [ -d "$SNAP" ] &&
   [ -n "$(find "$CLASSES" -name '*.class' -newer "$SNAP" -print -quit)" ]; then
  rm -rf "$SNAP"
fi
if [ ! -d "$SNAP" ]; then
  mkdir -p "$SNAP"
  cp -r "$CLASSES/." "$SNAP/"
  touch "$SNAP"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$SNAP:${SPARK_HOME:-/opt/spark}/jars/*" "$@"
