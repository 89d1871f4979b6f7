#!/bin/bash
# Run graft.Verify (or another main via MAIN=) against a compiled classpath,
# bypassing sbt startup. Usage: scripts/run_verify.sh <sfDir> <outDir>
set -e
cd "$(dirname "$(readlink -f "${BASH_SOURCE[0]}")")/.."
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $OPENS $GRAFT_EXTRA_JAVA_OPTS -Xmx${SPARK_GRAFT_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "${MAIN:-graft.Verify}" "$@"
