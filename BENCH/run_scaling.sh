#!/bin/bash
# Interleaved two-parallelism scaling sampling (north_rule: efficiency
# >= 0.8 from N to 4N). One JVM per side per round, sides interleaved
# 8,32,8,32,... so co-tenant interference windows hit both sides with
# equal probability; the report takes per-workload MINS across rounds.
#
# Runs WITHOUT sbt (plain java -cp) so the dev loop can keep compiling.
#   Usage: BENCH/run_scaling.sh <rounds> [scale] [passes]
set -u
cd "$(dirname "$0")/.."
ROUNDS=${1:-6}
export SPARK_GRAFT_SCALE=${2:-128}
export SPARK_GRAFT_PASSES=${3:-3}
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

# heap: SPARK_DRIVER_MEM when set, else half of MemTotal clamped to 2-8 g
# (the same rule the tier-1 test command uses)
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}

run_side() {
  java $ADD_OPENS -Xmx"$HEAP" -XX:+UseParallelGC \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "${CLASSES_DIR:-target/scala-2.13/classes}:/opt/spark/jars/*" \
    graft.ScalingBench "$1"
}

SIDES=${SIDES:-"8 32"}
for i in $(seq 1 "$ROUNDS"); do
  for s in $SIDES; do
    echo "[run_scaling] round $i/$ROUNDS side=$s $(date -u +%H:%M:%S)"
    run_side "$s"
  done
done
echo "[run_scaling] done $(date -u +%H:%M:%S)"
