#!/bin/bash
# Fast runner for graft mains without sbt startup overhead.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -e
# the classes of the checkout this script lives in
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# SPARK_GRAFT_JVM_OPTS: extra -D system properties for experiments
# (e.g. -Dspark.local.dir=/dev/shm/x to put block and shuffle files on tmpfs)
exec java $ADDOPENS $SPARK_GRAFT_JVM_OPTS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
