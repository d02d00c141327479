#!/bin/bash
# Local build-loop verify: compile once with sbt, then run graft.Verify via
# plain java (fast iteration; sbt startup is slow). Mirrors the driver's
# invocation. Usage: tools/verify.sh [sfDir] [outDir]
# Honors GRAFT_TREE=<dir> to verify another checkout's classes (default:
# this script's checkout); the default outDir is under that tree.
set -e
cd "$(dirname "$0")/.."
TREE=${GRAFT_TREE:-$(pwd)}
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-$TREE/target/verify}
CP="$TREE/target/scala-2.13/classes:/opt/spark/jars/*"
. tools/addopens.sh
exec java $ADD_OPENS -Xmx8g -cp "$CP" graft.Verify "$SF" "$OUT"
