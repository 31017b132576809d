#!/bin/bash
# Local dev runner: java with the sbt-compiled classes + Spark jars,
# mirroring build.sbt's forked-JVM options. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
set -euo pipefail
# The checkout this script lives in, so a second checkout runs its own classes.
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
# Session settings (UI off, UTC, ...) come from graft.Engine.
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$@"
