#!/bin/bash
# Run a graft main class from the compiled classes WITHOUT sbt — so
# long-running probes/staging jobs don't recompile (and aren't broken by)
# in-flight source edits. Compile first: `sbt -batch compile`.
#
# Runs the classes of the checkout this script lives in (so a second
# checkout runs its own build, not another's).
#
# Usage: HEAP=64g tools/run_main.sh graft.examples.Sf1Stage /tmp/sf1 /tmp/sf10 10
set -euo pipefail
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
HEAP="${HEAP:-8g}"
CLS="$1"; shift
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx"$HEAP" $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$CLS" "$@"
