#!/bin/bash
# Run a graft main class on a SNAPSHOT classpath (copy of
# target/scala-2.13/classes), so long Spark runs don't hold the sbt lock
# and don't race later source edits/recompiles.
#
#   cp -r target/scala-2.13/classes /tmp/graftclasses
#   SPARK_GRAFT_ONLY=<query> SPARK_GRAFT_SF_DIR=var/sf10 \
#     tools/run_isolated.sh /tmp/graftclasses graft.Bench
#   tools/run_isolated.sh /tmp/graftclasses graft.Verify var/sf10 /tmp/graft_verify
#
# The --add-opens list is what Spark 4 needs on Java 17.
set -euo pipefail
CLASSES="$1"; shift
exec java -cp "$CLASSES:/opt/spark/jars/*" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Xmx100g "$@"
