#!/bin/bash
# Launch graft.ScaleBench outside sbt (no sbt lock, same JVM flags as
# build.sbt's javaOptions). Usage:
#   SPARK_GRAFT_SCALE_FACTOR=10 SPARK_GRAFT_SCALE_ONLY=fam1,fam2 tools/scalebench.sh
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx${SPARK_DRIVER_MEM:-32g} \
  -cp "target/scala-2.13/classes:src/main/resources:/opt/spark/jars/*" \
  graft.ScaleBench "$@"
