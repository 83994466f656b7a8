#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's main sources together
# with the benchmark's own sources into perfbench/work/classes, using the
# Scala compiler that ships in Spark's jars directory. The repository's
# build.sbt is not involved. Run from anywhere: bash perfbench/build.sh
set -euo pipefail
cd "$(dirname "$0")/.."
if [ -z "${SPARK_HOME:-}" ]; then
  SPARK_HOME="$(cd "$(dirname "$(readlink -f "$(command -v spark-submit)")")/.." && pwd)"
fi
jars="$SPARK_HOME/jars"
out=perfbench/work/classes
if [ ! -d src/main/scala ]; then
  echo "build: no program sources at src/main/scala" >&2
  exit 2
fi
mkdir -p perfbench/work
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > perfbench/work/sources.txt
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -encoding utf8 \
  -classpath "$jars/*" -d "$out.tmp" @perfbench/work/sources.txt
rm -rf "$out"
mv "$out.tmp" "$out"
