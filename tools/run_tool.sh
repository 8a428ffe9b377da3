#!/bin/bash
# Direct java -cp launcher for graft mains (Bench/Verify/TimeQuery/
# ScaleInput). Exists because an sbt batch run can detach the forked JVM
# and delete its target/bg-jobs staging jars mid-run (SCALE.md round-9
# run-mode note) — the direct launch removes sbt from the measured path.
#
# The --add-opens list mirrors build.sbt's jdk17AddOpens (Spark 4.x on
# JDK 17 outside spark-submit). If a Spark/JDK bump extends that list in
# build.sbt, extend it here too — a missing module surfaces as an
# InaccessibleObjectException at SparkSession creation from this script
# only, while sbt-forked runs keep working.
set -eu
REPO="$(cd "$(dirname "$0")/.." && pwd)"
if [ "$#" -lt 1 ]; then
  echo "usage: $0 <main-class> [args...]   (e.g. $0 graft.Bench)" >&2
  exit 2
fi
CLASS=$1; shift
if [ ! -d "$REPO/target/scala-2.13/classes/graft" ]; then
  echo "error: $REPO/target/scala-2.13/classes/graft missing — run 'sbt compile' first" >&2
  exit 2
fi
ADDOPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADDOPENS ${EXTRA_JAVA_OPTS:-} -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "$REPO/target/scala-2.13/classes:/opt/spark/jars/*" "$CLASS" "$@"
