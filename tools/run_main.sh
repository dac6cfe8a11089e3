#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt lock/startup) —
# local iteration only; the driver always goes through sbt runMain.
# Usage: tools/run_main.sh <MainClass> [args...]
# Env: SPARK_GRAFT_* as usual, SPARK_DRIVER_MEM (default 8g).
set -e
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADDOPENS="$ADDOPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens java.base/sun.nio.cs=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens java.base/sun.security.action=ALL-UNNAMED"
ADDOPENS="$ADDOPENS --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $ADDOPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=2g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  "graft.$MAIN" "$@"
