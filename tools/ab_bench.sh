#!/bin/bash
# r16 dev tool: same-window A/B of two compiled class trees over an
# isolated SPARK_GRAFT_ONLY query set. Alternates OLD/NEW JVMs N times,
# probe-bracketing each pass, and saves each pass's BENCH_DETAIL_ONLY.json
# so per-query wall + in-pass steal can be compared pass-by-pass within
# one host window. Passes land in target/ab/ (<side>_<rep>.out/.json).
#
# Usage: tools/ab_bench.sh <old_classes> <new_classes> <queries> [reps]
# Cores and heap follow SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM (the
# variables the spec run exports), defaulting to 32 and 96g; the scale
# factor is Bench's SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata).
set -u
cd "$(dirname "$0")/.."
OLD=$1; NEW=$2; QS=$3; REPS=${4:-2}
CPUS=${SPARK_GRAFT_CPUS:-32}; MEM=${SPARK_DRIVER_MEM:-96g}
OUT=target/ab
# the Spark jars directory build.sbt compiles against
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)/*"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
mkdir -p "$OUT"
for i in $(seq 1 "$REPS"); do
  for side in old new; do
    cp=$([ "$side" = old ] && echo "$OLD" || echo "$NEW")
    # probe from the SAME class tree as the timed pass, so a mid-rebuild
    # or diverged working tree can never bracket with a different Probe
    probe=$(java -cp "$cp:$JARS" graft.Probe 2>/dev/null | tail -1)
    echo "[ab] rep $i $side probe: $probe"
    SPARK_GRAFT_CPUS="$CPUS" SPARK_GRAFT_ONLY="$QS" \
      java -cp "$cp:$JARS" $OPENS "-Xmx$MEM" graft.Bench \
      > "$OUT/${side}_$i.out" 2>&1
    rc=$?
    if [ -f BENCH_DETAIL_ONLY.json ]; then
      mv BENCH_DETAIL_ONLY.json "$OUT/${side}_$i.json"
    fi
    echo "[ab] rep $i $side rc=$rc $(grep -a '"metric":"total"' "$OUT/${side}_$i.out" | tail -1 | head -c 120)"
  done
done
