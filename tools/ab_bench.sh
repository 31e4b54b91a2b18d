#!/bin/bash
# Interleaved same-window A/B filtered bench between two compiled checkouts.
# Usage: tools/ab_bench.sh <filter> <legs> <oldClassesRoot> [newClassesRoot]
# Prints one line per leg: "<old|new> leg<n> <queries-json-fragment>".
set -e
FILTER=${1:?filter}
LEGS=${2:-3}
OLD=${3:?old checkout root}
NEW=${4:-/root/repo}
SF=${AB_SF_DIR:-/root/testdata/sf0.1}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
run_leg() {
  local root=$1 tag=$2 leg=$3
  local out
  out=$(cd "$root" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_REPEATS=3 SPARK_GRAFT_FILTER="$FILTER" \
    SPARK_GRAFT_SF2_DIR=none SPARK_GRAFT_SF_UP=none \
    java $ADD_OPENS -Xmx8g -Dspark.ui.enabled=false \
      -Dspark.sql.session.timeZone=UTC \
      -cp "$root/target/scala-2.13/classes:/opt/spark/jars/*" \
      graft.Bench 2>/dev/null | grep '"metric"')
  echo "$tag leg$leg $(echo "$out" | python3 -c 'import json,sys; d=json.load(sys.stdin); print(json.dumps(d["queries"]))')"
}
for i in $(seq 1 "$LEGS"); do
  run_leg "$OLD" old "$i"
  run_leg "$NEW" new "$i"
done
