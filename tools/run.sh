#!/bin/bash
# Direct-JVM launcher for graft mains (graft.tools.Probe, ScaleUp,
# Bench, Verify) against the sbt-compiled classes — avoids sbt startup
# and lets tools run while sbt holds its lock. usage:
#   tools/run.sh graft.tools.ScaleUp <src> <dst> [factor]
#   tools/run.sh graft.tools.Probe <name> <sfDir> [args…]
set -e
CP="/root/repo/target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
