#!/bin/bash
# One-shot round gate: compile, tests, verify+selfcheck, perfbench, bench.
# Usage: tools/gate.sh  (from anywhere; ~7 min)
# pipefail: a failing sbt run or selfcheck fails its `| tail` pipeline,
# and set -e then stops the gate there.
set -eo pipefail
cd "$(dirname "$0")/.."
echo "=== compile + test ==="
sbt -batch test 2>&1 | grep -E 'Tests:|error' | tail -2
echo "=== verify + selfcheck (sf0.01) ==="
tools/run_verify.sh /root/testdata/sf0.01 /tmp/verify_out 2>&1 \
  | grep -E '\[verify\]' || true
python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/verify_out | tail -1
echo "=== perfbench: generator test + one traced daily_upsert ==="
# run.py exits non-zero on a failed DuckDB output check or operation
python3 -m unittest perfbench/test_gen.py 2>&1 | tail -1
python3 perfbench/run.py --workload daily_upsert --seed 1 --seconds 15 \
  --trace 1 | grep -v '^{'
echo "=== bench (sf0.1) ==="
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
  java $ADD_OPENS -Dfile.encoding=UTF-8 -Xmx8g -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench 2>/dev/null
