#!/bin/bash
# Direct-java runner for graft mains: same JVM flags as build.sbt's fork,
# but no sbt lock — lets Explain/Profile/Bench run while sbt test runs.
# It runs the classes of the checkout it sits in, so two checkouts can be
# profiled side by side. The classpath is cached per checkout in
# target/jrun-classpath.txt (the first run writes it through sbt, which
# also compiles); recompile with sbt before rerunning after a source edit.
# Usage: scripts/jrun.sh <MainClass> [args...]   (env passes through)
set -euo pipefail
REPO=$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)
CP_FILE=${CP_FILE:-$REPO/target/jrun-classpath.txt}
if [ ! -s "$CP_FILE" ]; then
  mkdir -p "$(dirname "$CP_FILE")"
  (cd "$REPO" && sbt -batch 'export Compile/fullClasspath' 2>/dev/null | tail -1 > "$CP_FILE")
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$(cat "$CP_FILE")" "$@"
