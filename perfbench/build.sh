#!/usr/bin/env bash
# Build file of the benchmark package: compiles graft's sources
# (src/main/scala, plus its resources) together with the benchmark
# harness (perfbench/scala) into one class directory, using the Scala
# compiler that ships in Spark's jars. No sbt, no network.
#
#   perfbench/build.sh <classes-dir> <spark-jars-dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${1:?usage: perfbench/build.sh <classes-dir> <spark-jars-dir>}"
jars="${2:?usage: perfbench/build.sh <classes-dir> <spark-jars-dir>}"
tmp="$out.tmp"
rm -rf "$tmp"
mkdir -p "$tmp"
find "$root/src/main/scala" "$root/perfbench/scala" -name '*.scala' | sort > "$tmp.srcs"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$tmp" -classpath "$jars/*" "@$tmp.srcs"
if [ -d "$root/src/main/resources" ]; then
  cp -R "$root/src/main/resources/." "$tmp/"
fi
rm -rf "$out" "$tmp.srcs"
mv "$tmp" "$out"
