#!/bin/bash
# Interleaved A/B gate timing: alternates two compiled class trees over the
# same gate subset, printing per-pass walls from ProfGates (pass 1 profiled
# after its own in-JVM warmup). Usage:
#   ab_gates.sh <classesA> <classesB> <rounds> <gate> [gate...]
set -euo pipefail
A="$1"; B="$2"; R="$3"; shift 3
source "$(dirname "$0")/run_tool.sh"
run() {
  local cp="$1"; local tag="$2"
  SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_PROF_PASSES="${SPARK_GRAFT_PROF_PASSES:-2}" \
  graft_java "$cp" graft.tools.ProfGates "$@" 2>/dev/null \
    | grep -E "pass [0-9]+ wall" | sed "s/^/[$tag] /"
}
for i in $(seq 1 "$R"); do
  run "$A" "A$i" "$@"
  run "$B" "B$i" "$@"
done
