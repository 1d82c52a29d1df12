#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and
# the benchmark's own Scala package (perfbench/scala) into
# .bench_build/classes with the Scala compiler that ships in Spark's jars.
# Usage: bash perfbench/build.sh SPARK_JARS_DIR   (run.py passes it)
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
jars="$1"
out="$root/.bench_build/classes"

if [ ! -d "$root/src/main/scala" ]; then
  echo "build: no program sources at $root/src/main/scala" >&2
  exit 1
fi
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar)
library=$(ls "$jars"/scala-library-2.13.*.jar)
reflect=$(ls "$jars"/scala-reflect-2.13.*.jar)

rm -rf "$out"
mkdir -p "$out"
find "$root/src/main/scala" "$root/perfbench/scala" -name '*.scala' \
  > "$root/.bench_build/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$compiler:$library:$reflect" scala.tools.nsc.Main \
  -nowarn -d "$out" -classpath "$jars/*" "@$root/.bench_build/sources.txt"
