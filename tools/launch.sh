#!/bin/bash
# Launch a graft main class with the Spark 4/JDK17 module opens.
# Usage: launch.sh <MainClass> [args...]  (env: DRIVER_MEM default 16g)
MAIN=$1; shift
exec java -Xmx${DRIVER_MEM:-16g} \
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
  -cp "${GRAFT_CP:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*" "$MAIN" "$@"
