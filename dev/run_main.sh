#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt), mirroring
# build.sbt's fork options (the session config is graft.Session's).
# Usage: dev/run_main.sh graft.Verify [args...]
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "${GRAFT_CLASSES:-$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes}:/opt/spark/jars/*" \
  "$MAIN" "$@"
