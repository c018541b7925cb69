#!/bin/bash
# Standalone-control invocation of graft.tools.Profile with the bench's
# own heap shape (-Xms = -Xmx, AlwaysPreTouch), so a control run never
# bills lazy-heap page-zeroing sys time to run 1. Profile's settle loop
# (run-over-run delta < 10%) makes the settled number read directly
# against a bench median; it also prints the final run's job timeline.
#
# Usage: tools/jobcount.sh <sfDir> <q,q,...> [maxRuns] [k=v,k=v,...]
# Env:   JC_MEM (heap, default 8g — use the bench run's SPARK_DRIVER_MEM)
#        SPARK_GRAFT_CPUS (local cores, default 4 — use the bench run's)
set -euo pipefail
MEM="${JC_MEM:-8g}"
REPO="$(cd "$(dirname "$0")/.." && pwd)"
CP="$REPO/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
exec java "-Xmx$MEM" "-Xms$MEM" -XX:+AlwaysPreTouch \
  -cp "$CP" graft.tools.Profile "$@"
