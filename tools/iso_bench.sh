#!/bin/bash
# Isolated per-query adjudication (r14): one fresh sbt/JVM per query so
# numbers carry no cross-query heap/frame state (the slice-contamination
# class demonstrated by bench_sf100_events_p32/p256). Usage:
#   tools/iso_bench.sh <sfDir> <outDir> <mem> <q1> [q2 ...]
set -u
SF="$1"; OUT="$2"; MEM="$3"; shift 3
mkdir -p "$OUT"
for q in "$@"; do
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" SPARK_DRIVER_MEM="$MEM" \
  SPARK_GRAFT_BENCH_RUNS=2 SPARK_GRAFT_BENCH_OUT="$OUT/$q.json" \
  sbt -batch "runMain graft.Bench $q" > "$OUT/$q.log" 2>&1
  echo "$q rc=$?"
done
