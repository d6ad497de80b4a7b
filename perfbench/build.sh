#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) and
# the benchmark harness (perfbench/src) with the Scala compiler that ships
# in the Spark distribution ($SPARK_HOME, else the one spark-submit on PATH
# belongs to), into .bench_build/perfbench/classes. Skips the compile when
# no source changed since the last build.
#
# Usage: bash perfbench/build.sh        (from any directory)
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"
out="$root/.bench_build/perfbench"
mapfile -t srcs < <( { find "$root/src/main/scala" "$root/perfbench/src" \
  -name '*.scala'; } | LC_ALL=C sort)
stamp="$( { printf '%s\n' "${srcs[@]}"; cat "${srcs[@]}"; } | sha256sum | cut -d' ' -f1)"
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
java -XX:-UsePerfData -Xmx3g -Xss8m -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -classpath "$jars/*" -d "$out/classes" "${srcs[@]}"
echo "$stamp" > "$out/classes.stamp"
