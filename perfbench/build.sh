#!/usr/bin/env bash
# Build file of the benchmark package: compiles the engine (src/main/scala
# and its resources, at the root of the checkout) together with the harness
# (perfbench/src) into perfbench/.build/classes, using the Scala compiler
# that ships with the Spark distribution ($SPARK_HOME/jars, or the one whose
# spark-submit is on PATH). No sbt and no dependency resolution. Skips the
# compile when no source changed.
#
#   bash perfbench/build.sh      # prints the run-time classpath on stdout
set -euo pipefail
here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
spark_home="${SPARK_HOME:-}"
if [ -z "$spark_home" ] && command -v spark-submit >/dev/null; then
  spark_home="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
jars="$spark_home/jars"
out="$here/.build"

[ -d "$root/src/main/scala" ] || { echo "build: no engine sources at $root/src/main/scala" >&2; exit 2; }
[ -n "$spark_home" ] && [ -d "$jars" ] || { echo "build: no Spark jars; set SPARK_HOME" >&2; exit 2; }

mapfile -t sources < <(find "$root/src/main/scala" "$here/src" -name '*.scala' | LC_ALL=C sort)
stamp="$( { printf '%s\n' "${sources[@]}"; cat "${sources[@]}"; \
            find "$root/src/main/resources" -type f -exec cat {} + 2>/dev/null || true; } \
          | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  echo "$out/classes:$jars/*"
  exit 0
fi

rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out/classes" -classpath "$jars/*" "${sources[@]}" >&2
if [ -d "$root/src/main/resources" ]; then
  cp -r "$root/src/main/resources/." "$out/classes/"
fi
echo "$stamp" > "$out/stamp"
echo "$out/classes:$jars/*"
