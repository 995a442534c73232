#!/bin/bash
# Run graft.Verify without sbt startup overhead (classes must be compiled
# first: `sbt compile`). Usage: tools/run_verify.sh [sfDir] [outDir]
# The classes come from the checkout this script lives in; relative
# sfDir/outDir arguments resolve against the caller's directory.
set -e
SF=$(realpath -m "${1:-/root/testdata/sf0.01}")
OUT=$(realpath -m "${2:-/tmp/verify_out}")
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS -Dfile.encoding=UTF-8 -Xmx8g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Verify "$SF" "$OUT"
