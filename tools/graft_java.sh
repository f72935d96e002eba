#!/bin/bash
# Plain-java runner for graft mains (bypasses the sbt lock): compiled
# classes + the Spark jars build.sbt names (unmanagedBase), with the
# JDK17 --add-opens set Spark needs. Compile first (`sbt compile`).
# Usage:
#   SPARK_DRIVER_MEM=48g tools/graft_java.sh graft.tools.Entry <entry> <dir> --reps 3
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util java.util.concurrent java.util.concurrent.atomic; do OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"; done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$@"
