#!/bin/bash
# Interleaved A/B bench (r14 verdict ask #3): the r14 back-to-back
# protocol ran jar A's full sweep, then jar B's — one contaminated leg
# (background load, page-cache asymmetry) skews every per-query delta
# the same direction and is indistinguishable from a real regression.
# This runs the two jars ALTERNATING per sweep (A B A B ...), so any
# environmental drift lands on both sides symmetrically, and emits one
# tagged JSON line per leg for scripts/ab_aggregate.py to reduce into
# per-query medians + spread.
#
# usage: ab_interleaved.sh <jarA> <jarB> <sfDir> <sweeps> [queryCsv]
# env:   AB_TOOL       main class: graft.Bench (default) or
#                      graft.tools.LifecycleBench, the two mains that
#                      print a one-line result
#        AB_TOOL_ARGS  args for AB_TOOL (overrides queryCsv; e.g.
#                      "/tmp/graft_sf10 5" for graft.tools.LifecycleBench)
#        SPARK_GRAFT_CPUS  (default 32; every main sizes its session
#                      from it through Sessions.local)
# LifecycleBench legs also carry a "jobs" object (Spark jobs per op);
# ab_aggregate.py reduces the "ops" seconds and ignores it.
set -u
JARA=$1; JARB=$2; SF=$3; N=$4; QUERIES=${5:-}
TOOL=${AB_TOOL:-graft.Bench}
ARGS=${AB_TOOL_ARGS:-$QUERIES}
CPUS=${SPARK_GRAFT_CPUS:-32}
# Spark's standard Java-17 module opens (sbt adds these itself; a bare
# java invocation must pass them or kryo's field reflection dies with
# InaccessibleObjectException on java.nio/java.util internals)
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
--add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"

run_leg() { # $1=side $2=jar $3=sweep
  # the B jar is appended so tool classes that only exist in the newer
  # jar (e.g. LifecycleBench) resolve on A legs too, while the LIBRARY
  # classes load from the leg's own jar (first on the classpath wins)
  local out
  out=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
    java $OPENS -cp "$2:$JARB:/opt/spark/jars/*" -Xmx96g \
    $TOOL $ARGS 2>/dev/null | grep '"metric"')
  echo "{\"sweep\":$3,\"side\":\"$1\",\"leg\":$out}"
}

# alternate WITHIN-SWEEP order too: with A always first, any within-
# sweep drift (page-cache displacement by the previous leg, thermal/
# load ramps) lands on B every time and masquerades as a per-jar
# delta; odd sweeps run A→B, even sweeps B→A, so order bias cancels
# in the medians
for i in $(seq 1 "$N"); do
  if [ $((i % 2)) -eq 1 ]; then
    run_leg A "$JARA" "$i"
    run_leg B "$JARB" "$i"
  else
    run_leg B "$JARB" "$i"
    run_leg A "$JARA" "$i"
  fi
done
