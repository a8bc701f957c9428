#!/bin/bash
# Local bench runner: graft.Bench with the JDK-17 --add-opens set from
# add_opens.sh (shared with run_verify.sh). Running
# `java -cp ... graft.Bench` by hand without these flags mostly works:
# Spark boots, 299/300 queries run, and then date-row DECODING fails
# (sun.util.calendar not opened), which is exactly how round 10
# produced a bench map with one bogus failure.
# Use this wrapper.
#
# Usage: scripts/bench.sh [sfDir]
#   SPARK_GRAFT_BENCH_ONLY=a,b,c scripts/bench.sh   # subset
#   SPARK_GRAFT_CPUS=8 scripts/bench.sh             # cores (default: nproc)
#   SPARK_DRIVER_MEM=4g scripts/bench.sh            # heap (default 8g, as build.sbt)
set -e
cd "$(dirname "$0")/.."
. scripts/add_opens.sh
SF=${1:-/root/testdata/sf0.1}
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
  exec java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=1g \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench
