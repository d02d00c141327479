#!/bin/bash
# Build-loop single-spec runner: plain-java ScalaTest (no sbt lock, fast
# iteration next to a long-running sbt). Compile first: sbt Test/compile.
# Usage: tools/spec.sh graft.CatalogSpec ["test name substring"]
# Honors GRAFT_TREE=<dir> to run another checkout's compiled classes and
# test-classes (default: this script's checkout).
set -e
cd "$(dirname "$0")/.."
TREE=${GRAFT_TREE:-$(pwd)}
# Locate test-framework jars host-independently: any coursier cache layout
# (COURSIER_CACHE override, or the default ~/.cache/coursier/v1) works.
CS=${COURSIER_CACHE:-$HOME/.cache/coursier/v1}
TESTJARS=$(find "$CS" \( -path '*/org/scalatest/*' -o -path '*/org/scalactic/*' \) \
  \( -name "*_2.13-3.2.19.jar" -o -name "scalatest-compatible-3.2.19.jar" \) | sort -u | tr '\n' ':')
XML=$(find "$CS" -path '*/org/scala-lang/modules/scala-xml_2.13/*' -name 'scala-xml_2.13-2.*.jar' | sort | head -1)
CP="$TREE/target/scala-2.13/test-classes:$TREE/target/scala-2.13/classes:${TESTJARS}${XML}:/opt/spark/jars/*"
. tools/addopens.sh
SUITE=$1; shift || true
if [ -n "$1" ]; then ZARG=(-z "$1"); else ZARG=(); fi
exec java $ADD_OPENS -Xmx8g \
  -cp "$CP" org.scalatest.tools.Runner -o -s "$SUITE" "${ZARG[@]}"
