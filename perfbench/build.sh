#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) together
# with the benchmark (perfbench/src) into one class directory, using the
# Scala compiler that ships in Spark's jars directory.
#
# Usage: bash perfbench/build.sh <spark-jars-dir> <out-dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
jars="$1"
out="$2"

if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "perfbench: engine sources not found under src/main/scala" >&2
  exit 2
fi
compiler=$(ls "$jars"/scala-compiler-*.jar 2>/dev/null | head -n 1)
if [ -z "$compiler" ]; then
  echo "perfbench: no scala-compiler jar in $jars" >&2
  exit 2
fi

rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | sort > "$out.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -cp "$jars/*" @"$out.sources"
if [ -d "$root/src/main/resources" ]; then
  cp -R "$root/src/main/resources/." "$out.tmp/"
fi
rm -rf "$out"
mv "$out.tmp" "$out"
