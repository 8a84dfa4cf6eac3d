#!/bin/bash
# The one raw-java launch recipe for graft classes (no sbt sibling JVM):
# the build's JDK-17 --add-opens set, an 8 GB heap (the canonical bench
# heap the records are comparable under), Spark UI off, UTC sessions.
#
#   tools/run_tool.sh <class> [args...]     # against target/scala-2.13/classes
#
# Sourced, it defines `graft_java <classesDir> <class> [args...]`, which
# run_bench.sh, run_scale.sh and ab_gates.sh launch through.
graft_java() {
  local classes="$1" class="$2" opens="" p
  shift 2
  for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
           java.nio java.util java.util.concurrent java.util.concurrent.atomic \
           sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
    opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
  done
  java -Xmx8g $opens \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')" "$class" "$@"
}

if [ "${BASH_SOURCE[0]}" = "$0" ]; then
  set -euo pipefail
  CLASS="${1:?usage: run_tool.sh <class> [args...]}"
  shift
  graft_java target/scala-2.13/classes "$CLASS" "$@"
fi
