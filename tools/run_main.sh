#!/bin/bash
# Direct JVM launcher for graft mains — bypasses sbt so long matrix runs
# don't hold the sbt project lock (and can run against a CLASSDIR snapshot
# while development recompiles target/). Mirrors build.sbt's forked-run
# JVM options (JDK17 add-opens per spark.launcher.JavaModuleOptions).
# The checkout's src/main/resources follows CLASSDIR on the classpath, since
# a bare `sbt compile` does not copy them into the class directory.
# Usage: CLASSDIR=... SPARK_DRIVER_MEM=8g tools/run_main.sh graft.Verify <args...>
set -euo pipefail
MAIN=$1; shift
CLASSDIR=${CLASSDIR:-target/scala-2.13/classes}
RESOURCES="$(cd "$(dirname "$0")/.." && pwd)/src/main/resources"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSDIR:$RESOURCES:/opt/spark/jars/*" "$MAIN" "$@"
