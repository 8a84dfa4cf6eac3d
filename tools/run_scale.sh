#!/bin/bash
# Scale-probe launcher: the JVM recipe of tools/run_tool.sh (8 GB heap —
# the canonical bench heap, so driver-memory readings are comparable),
# $SPARK_GRAFT_CPUS cores (default 32).
#   tools/run_scale.sh <sfDir> <outJson> [shufflePartitions]
set -euo pipefail
SF_DIR="${1:?usage: run_scale.sh <sfDir> <outJson> [shuffleParts]}"
OUT="${2:?usage: run_scale.sh <sfDir> <outJson> [shuffleParts]}"
SHUF="${3:-64}"
source "$(dirname "$0")/run_tool.sh"
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" SPARK_GRAFT_SHUFFLE="$SHUF" \
  graft_java target/scala-2.13/classes graft.tools.ScaleR19 "$SF_DIR" "$OUT"
