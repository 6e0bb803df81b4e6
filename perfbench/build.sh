#!/usr/bin/env bash
# Builds the program (src/main/scala) and the benchmark harness
# (perfbench/src) into .bench_build/classes with the Scala compiler that
# ships in Spark's jars, and records in .bench_build/spark_jars which Spark
# installation ($SPARK_HOME, else the one whose spark-submit is on PATH) the
# run must use. Skips the compile when the sources are unchanged.
# Usage: bash perfbench/build.sh   (from the repository root)
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
cd "$root"
if [ ! -d src/main/scala ]; then
  echo "perfbench: no src/main/scala here; nothing to build" >&2
  exit 2
fi
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"
out=.bench_build
mkdir -p "$out"
echo "$jars" > "$out/spark_jars"
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${srcs[@]}" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -cp "$jars/*" "${srcs[@]}" >&2
echo "$stamp" > "$out/classes.stamp"
