#!/bin/bash
# Run a graft main class against the compiled classes without sbt
# (same JVM flags build.sbt passes to forked runs).
# usage: scripts/run.sh <mainClass> [args...]   (from any directory; the
# classes are those of the checkout this script lives in)
set -e
CLS="$1"; shift
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# The Spark jars are the ones build.sbt's unmanagedBase names.
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
CP="$ROOT/target/scala-2.13/classes:$(ls "$JARS"/*.jar | tr '\n' ':')"
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$CLS" "$@"
