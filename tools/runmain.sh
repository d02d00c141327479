#!/bin/bash
# Build-loop main runner: plain-java against compiled classes (no sbt lock),
# same classpath derivation as spec.sh. Compile first: sbt compile.
# Usage: tools/runmain.sh graft.PlanDump [sfDir] [outFile] [q1,q2,...]
# Honors GRAFT_TREE=<dir> to run another checkout's classes (default: repo root).
set -e
cd "$(dirname "$0")/.."
TREE=${GRAFT_TREE:-$(pwd)}
CP="$TREE/target/scala-2.13/classes:/opt/spark/jars/*"
. tools/addopens.sh
MAIN=$1; shift || true
exec java $ADD_OPENS -Xmx8g -Dderby.stream.error.file=/tmp/derby_runmain.log \
  -cp "$CP" "$MAIN" "$@"
