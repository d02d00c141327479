#!/bin/bash
# Local build-loop verify: compile once with sbt, then run graft.Verify via
# plain java (fast iteration; sbt startup is slow). Mirrors the driver's
# invocation. Usage: tools/verify.sh [sfDir] [outDir]
set -e
cd /root/repo
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/root/repo/target/verify}
CP="target/scala-2.13/classes:/opt/spark/jars/*"
. tools/addopens.sh
exec java $ADD_OPENS -Xmx8g -cp "$CP" graft.Verify "$SF" "$OUT"
