#!/bin/bash
# Same-window A/B of the map-side partial first-occurrence (agg-dedup, opted in
# with SPARK_GRAFT_AGG_DEDUP=1) vs the default window shape, alternated to
# control host drift. N=4 legs first (the win is remote shuffle reads), then N=1.
# Usage: bench/run_aggdedup_ab.sh [nHosts pph maxDepth]
set -uo pipefail
cd "$(dirname "$0")/.."
NH=${1:-200}; PPH=${2:-20000}; MD=${3:-5}
OUT=${OUT:-/tmp/aggdedup_ab.txt}
JAR="$PWD/target/scala-2.13/wbotspark_2.13-0.1.0.jar"
CP="$JAR:/opt/spark/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

leg() { # nWorkers pin label extra-env...
  local NW=$1 PIN=$2 LABEL=$3; shift 3
  local R
  R=$(env "$@" SPARK_SCALA_VERSION=2.13 SPARK_JARS="file:$JAR" \
    SPARK_MASTER="local-cluster[$NW,2,8192]" SPARK_GRAFT_OFFHEAP=8g \
    taskset -c "$PIN" java -Xmx6g $OPENS -Dspark.ui.enabled=false -cp "$CP" \
    graft.wbot.CrawlBench run $((2 * NW)) "$OUT.legs" "$NH" "$PPH" 1 "$MD" 12 4 \
    2>/dev/null | grep -o 'cores=[0-9]* wall=[0-9.]* urls=[0-9]* rate=[0-9.]*' | head -1)
  echo "leg=$LABEL $R" | tee -a "$OUT"
}

leg 4 4-12 n4_agg SPARK_GRAFT_AGG_DEDUP=1
leg 4 4-12 n4_win
leg 4 4-12 n4_agg2 SPARK_GRAFT_AGG_DEDUP=1
leg 4 4-12 n4_win2
leg 1 4-6  n1_agg SPARK_GRAFT_AGG_DEDUP=1
leg 1 4-6  n1_win
