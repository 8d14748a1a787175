#!/usr/bin/env bash
# Build file of the openEO service benchmark.
#
# Compiles the engine's main sources (src/main/scala, resources from
# src/main/resources) together with the benchmark's own sources
# (servicebench/src) against the Spark distribution's jars, into
# servicebench/.build/classes. Run from the repository root:
#
#   bash servicebench/build.sh
#
# Spark is located through SPARK_HOME, else through spark-submit on PATH.
set -euo pipefail

root="$(cd "$(dirname "$0")/.." && pwd)"
out="$root/servicebench/.build"

if [[ ! -d "$root/src/main/scala/graft" ]]; then
  echo "build.sh: engine sources (src/main/scala/graft) not found under $root" >&2
  exit 2
fi
spark_home="${SPARK_HOME:-}"
if [[ -z "$spark_home" ]] && command -v spark-submit >/dev/null; then
  spark_home="$(cd "$(dirname "$(command -v spark-submit)")/.." && pwd)"
fi
if [[ -z "$spark_home" || ! -d "$spark_home/jars" ]]; then
  echo "build.sh: set SPARK_HOME to a Spark 4.1 distribution" >&2
  exit 2
fi

java_bin="${JAVA_HOME:+$JAVA_HOME/bin/}java"
staging="$out/classes.tmp"
rm -rf "$staging"
mkdir -p "$staging"
find "$root/src/main/scala" "$root/servicebench/src" -name '*.scala' \
  > "$out/sources.txt"
# scalac ships with the Spark distribution (scala-compiler jar)
"$java_bin" -Xmx3g -Xss8m -cp "$spark_home/jars/*" scala.tools.nsc.Main \
  -nowarn -d "$staging" -classpath "$spark_home/jars/*" "@$out/sources.txt"
if [[ -d "$root/src/main/resources" ]]; then
  cp -R "$root/src/main/resources/." "$staging/"
fi
rm -rf "$out/classes"
mv "$staging" "$out/classes"
echo "$spark_home" > "$out/spark_home"
