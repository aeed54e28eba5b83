#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark's JVM
# side (perfbench/src) into <out>/classes with the Scala compiler that ships
# in Spark's jar directory. Skips the compile when no source changed since
# the last build into <out>.
#
#   perfbench/build.sh <out-dir>
set -euo pipefail
out="$1"
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(command -v spark-submit)")")}"
jars="$spark_home/jars"
[ -d "$root/src/main/scala" ] || { echo "build: no program sources under $root/src/main/scala" >&2; exit 2; }
ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1 || { echo "build: no Scala compiler in $jars" >&2; exit 2; }

mapfile -t sources < <(find "$root/src/main/scala" "$here/src" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${sources[@]}" | sha256sum | cut -c1-16)"
if [ -f "$out/classes/.stamp" ] && [ "$(cat "$out/classes/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes"
mkdir -p "$out/classes"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$jars/*" "${sources[@]}"
echo "$stamp" > "$out/classes/.stamp"
