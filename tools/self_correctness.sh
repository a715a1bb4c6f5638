#!/bin/bash
# Self-stamped correctness gate (round-10 verdict #2): run the full
# graft.Verify sweep at sf0.01 and the DuckDB compare, writing
# CORRECTNESS_SELF_r<N>.json in the driver's artifact shape — so an
# empty or missing driver CORRECTNESS_r<N>.json is immediately
# diagnosable as a driver glitch vs a real regression.
#
# Usage: tools/self_correctness.sh <roundN> [sfDir] [outDir] [pattern ...]
# Patterns after outDir go to graft.Verify as SparkEntry.select patterns
# (a full query name, or its prefix up to `_`), so one family can be
# re-checked alone, e.g.
#   tools/self_correctness.sh 15 <sfDir> /tmp/v q216 q41
set -euo pipefail
cd "$(dirname "$0")/.."
N="${1:?usage: self_correctness.sh <roundN> [sfDir] [outDir] [pattern ...]}"
SF="${2:-/root/testdata/sf0.01}"
OUT="${3:-/tmp/graft_self_verify}"
shift $(( $# < 3 ? $# : 3 ))
CP="target/scala-2.13/classes:/opt/spark/jars/*"
JOPTS="--add-opens java.base/java.lang=ALL-UNNAMED \
 --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
 --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
 --add-opens java.base/java.io=ALL-UNNAMED \
 --add-opens java.base/java.net=ALL-UNNAMED \
 --add-opens java.base/java.nio=ALL-UNNAMED \
 --add-opens java.base/java.util=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
 --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
 --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
 -Dspark.ui.enabled=false"
sbt -batch compile 1>&2
# shellcheck disable=SC2086
java $JOPTS -cp "$CP" graft.Verify "$SF" "$OUT" "$@"
python3 tools/compare_oracle.py "$SF" "$OUT" --json "CORRECTNESS_SELF_r${N}.json"
