#!/bin/bash
# N vs 4N EXECUTOR scaling pairs on real multi-JVM local-cluster masters:
#   level A: local-cluster[1,2,<mem>]  (N  = 1 executor  x 2 cores)
#   level B: local-cluster[4,2,<mem>]  (4N = 4 executors x 2 cores)
# Same per-executor shape, same input, fresh driver JVM per run, taskset-
# pinned away from cpu0 (host IRQ noise), probe-verified windows.
# Usage: bench/run_cluster_pairs.sh <pairs> [out] [nHosts pph skew maxDepth fanMin fanRand]
set -uo pipefail
cd "$(dirname "$0")/.."
PAIRS=${1:-3}
OUT=${2:-/tmp/cluster_pairs.txt}
NH=${3:-200}; PPH=${4:-20000}; SKEW=${5:-1}; MD=${6:-4}; FMIN=${7:-12}; FRAND=${8:-4}
MEM=${SPARK_DRIVER_MEM:-6g}
EXEC_MEM=${EXEC_MEM:-8192}
# Cores per executor (same at both levels — the scaling variable is the
# EXECUTOR COUNT, 1 vs 4). 2 reproduces the historical pairs; 6 is the
# realistic cluster shape (4x6 = 24 busy cores + driver + sampler on this
# 32-core host) and amortizes per-executor fabric constants over more cores.
EC=${EXEC_CORES:-2}
PROBE_MAX=${PROBE_MAX:-0.40}
# The quiet bar is RELATIVE to this host-day's idle speed: the busy-loop
# baseline at true idle drifts across reboots (measured 0.35-0.44 s for the
# same kernel — governor/clock state), so a fixed absolute bar can become
# unreachable on a slower-clocked day even with zero contention. Calibrate
# once at script start (the script itself is the only load): bar =
# max(PROBE_MAX, idle_median x 1.15). The 15% margin is the measured
# bench-side memory-bandwidth pressure on an otherwise-idle sampler CPU.
IDLE0=$(taskset -c 31 python3 - <<'PY'
import time, statistics
ts=[]
for _ in range(5):
    t0=time.perf_counter()
    s=0
    for i in range(3_000_000): s+=i*i
    ts.append(time.perf_counter()-t0)
print(f"{statistics.median(ts):.3f}")
PY
)
# BAR_OVERRIDE: pin the bar to a TRUE-idle measurement taken earlier in the
# host-day instead of calibrating at launch — a campaign launched while the
# host is loud would otherwise calibrate "idle" from a contended sample and
# accept loud pairs as quiet (the bar can only be inflated by launch-time
# noise, never deflated). The launch-time reading is still recorded.
BAR=${BAR_OVERRIDE:-$(python3 -c "print('%.3f' % max($PROBE_MAX, $IDLE0 * 1.15))")}
echo "idle_baseline=$IDLE0 quiet_bar=$BAR (PROBE_MAX=$PROBE_MAX)"
JAR="$PWD/target/scala-2.13/wbotspark_2.13-0.1.0.jar"

CP="$JAR:/opt/spark/jars/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

probe() {
  taskset -c 30 python3 - <<'PY'
import time, statistics
ts=[]
for _ in range(3):
    t0=time.perf_counter()
    s=0
    for i in range(3_000_000): s+=i*i
    ts.append(time.perf_counter()-t0)
print(f"{statistics.median(ts):.3f}")
PY
}

# In-leg contention sampler (round-4 verdict: pair 7 had quiet boundary
# probes around a visibly degraded N=4 leg — gate on IN-LEG quiet, not just
# before/after). Runs the same busy-loop kernel every 5 s on a spare pinned
# CPU for the whole leg; a leg is quiet iff the MEDIAN in-leg sample is
# <= PROBE_MAX (median, not max: one slow sample out of ~30 is the sampler
# being descheduled once, not a loud window).
sampler_start() { # $1 = samples file
  : > "$1"
  taskset -c 31 python3 - "$1" <<'PY' &
import sys, time
out = open(sys.argv[1], "w")
while True:
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000): s += i*i
    out.write(f"{time.perf_counter()-t0:.3f}\n"); out.flush()
    time.sleep(5)
PY
  SAMPLER_PID=$!
}
sampler_stop() { # $1 = samples file; echoes "median/max/n"
  kill "$SAMPLER_PID" 2>/dev/null; wait "$SAMPLER_PID" 2>/dev/null
  python3 - "$1" <<'PY'
import sys, statistics
xs = [float(l) for l in open(sys.argv[1]) if l.strip()]
if xs: print(f"{statistics.median(xs):.3f}/{max(xs):.3f}/{len(xs)}")
else: print("nan/nan/0")
PY
}

runlevel() { # nWorkers totalCores pin outfile
  local NW=$1 CORES=$2 PIN=$3 F=$4
  SPARK_SCALA_VERSION=2.13 SPARK_JARS="file:$JAR" \
  SPARK_MASTER="local-cluster[$NW,$EC,$EXEC_MEM]" SPARK_GRAFT_OFFHEAP=${OFFHEAP:-8g} \
  taskset -c "$PIN" java -Xmx"$MEM" $OPENS -Dspark.ui.enabled=false -cp "$CP" \
    graft.Tools crawl "$CORES" "$F" "$NH" "$PPH" "$SKEW" "$MD" "$FMIN" "$FRAND" \
    2>/dev/null | grep -o 'cores=[0-9]* wall=[0-9.]* urls=[0-9]* rate=[0-9.]*' | head -1
}

for P in $(seq 1 "$PAIRS"); do
  P0=$(probe)
  sampler_start "$OUT.s1"
  R1=$(runlevel 1 "$EC" "4-$((3 + EC + 2))" "$OUT.n1")   # 1 executor + driver, away from cpu0
  S1=$(sampler_stop "$OUT.s1")
  P1=$(probe)
  sampler_start "$OUT.s4"
  R4=$(runlevel 4 $((4 * EC)) "4-$((3 + 4 * EC + 2))" "$OUT.n4") # 4 executors + driver
  S4=$(sampler_stop "$OUT.s4")
  P2=$(probe)
  RATE1=$(echo "$R1" | grep -o 'rate=[0-9.]*' | cut -d= -f2)
  RATE4=$(echo "$R4" | grep -o 'rate=[0-9.]*' | cut -d= -f2)
  # window = quiet iff BOTH legs' in-leg sample medians are under the bar
  # (the boundary probes stay recorded but no longer gate — pair-7 lesson)
  # AND the two legs ran in the SAME host state (medians within 10% of each
  # other): this host flips between clock/steal states, and a pair whose
  # legs straddle a flip measures the flip, not the engine — in EITHER
  # direction (a fast-state N=1 leg deflates efficiency exactly as a
  # fast-state N=4 leg inflates it), so the exclusion is luck-symmetric.
  M1=${S1%%/*}; M4=${S4%%/*}
  QUIET=$(python3 -c "
try:
    m1, m4 = float('$M1'), float('$M4')
    ok = max(m1, m4) <= $BAR and max(m1, m4) <= 1.10 * min(m1, m4)
    print('quiet' if ok else ('state-mismatch' if max(m1, m4) <= $BAR else 'loud'))
except ValueError: print('loud')")
  EFF=$(python3 -c "print(f'{($RATE4/$RATE1)/4:.3f}')" 2>/dev/null || echo "nan")
  echo "pair=$P bar=$BAR probes=$P0,$P1,$P2 inleg_n1=$S1 inleg_n4=$S4 window=$QUIET rate_n1=$RATE1 rate_n4=$RATE4 eff=$EFF" | tee -a "$OUT"
done
echo "--- summary ---"
python3 - "$OUT" <<'PY'
import sys, statistics
effs=[]
for line in open(sys.argv[1]):
    if 'window=quiet' in line:   # in-leg-quiet pairs only (auto-exclusion by rule)
        effs.append(float(line.split('eff=')[1].strip()))
print(f"in-leg-quiet pairs: {len(effs)}; efficiencies: {effs}")
if effs: print(f"median efficiency: {statistics.median(effs):.3f}")
PY
