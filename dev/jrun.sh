#!/bin/bash
# Run a graft main class directly against the compiled classes of the
# checkout this script sits in + the Spark jars build.sbt names as its
# unmanagedBase, bypassing sbt (no build lock, no sbt startup). Build
# the classes first (sbt compile).
# Usage: dev/jrun.sh <mainClass> [args...]   (env: SPARK_GRAFT_SF_DIR etc.)
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
JARS=$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$ROOT/build.sbt")
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-24g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" \
  "$CLS" "$@"
