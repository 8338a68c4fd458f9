#!/bin/bash
# Run a graft main directly against the compiled classes + the image's
# Spark jars, bypassing the sbt launcher (and its project lock) — same
# JVM flags as build.sbt's `run / javaOptions`. The classes are those of
# the checkout this script sits in (run `sbt compile` there first); the
# jars come from $SPARK_HOME (default /opt/spark).
#   tools/run_main.sh graft.Bench [args...]
CLASS="$1"; shift
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
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
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$REPO/target/scala-2.13/classes:${SPARK_HOME:-/opt/spark}/jars/*" \
  "$CLASS" "$@"
