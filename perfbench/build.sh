#!/usr/bin/env bash
# Builds the program from its sources together with the benchmark harness,
# using the Scala compiler that ships among Spark's jars.
# Usage (from the repository root): perfbench/build.sh <classes-dir> <spark-jars-dir>
set -euo pipefail
out=$1
jars=$2
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here; run from the repository root" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/scala -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out.tmp" "@$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
