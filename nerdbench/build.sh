#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's sources (src/main/scala)
# together with the benchmark's own (nerdbench/src) into <out>/nerdbench.jar,
# with the Scala compiler that ships in the Spark distribution's jars.
#
# Usage: nerdbench/build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
repo="$(dirname "$here")"
out="${1:?usage: build.sh <out-dir> <spark-jars-dir>}"
jars="${2:?usage: build.sh <out-dir> <spark-jars-dir>}"
[ -d "$repo/src/main/scala" ] || { echo "build.sh: no program sources in $repo/src/main/scala" >&2; exit 2; }
mkdir -p "$out"
rm -rf "$out/classes"
mkdir -p "$out/classes"
find "$repo/src/main/scala" "$here/src" -name '*.scala' | sort > "$out/sources.txt"
cp="$(find "$jars" -maxdepth 1 -name '*.jar' | sort | tr '\n' ':')"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out/classes" -classpath "$cp" @"$out/sources.txt"
jar cf "$out/nerdbench.jar.tmp" -C "$out/classes" .
mv "$out/nerdbench.jar.tmp" "$out/nerdbench.jar"
