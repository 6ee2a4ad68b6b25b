#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark
# (perfbench/src) into <out>/classes, using the Scala compiler that ships
# among the Spark jars. Usage: SPARK_HOME=<spark> perfbench/build.sh <out-dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="${SPARK_HOME:?set SPARK_HOME to a Spark distribution}/jars"
if [ ! -d "$root/src/main/scala" ]; then
  echo "build: no program sources at src/main/scala" >&2
  exit 2
fi
rm -rf "$out/classes"
mkdir -p "$out/classes"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$jars/*" "@$out/sources.txt"
