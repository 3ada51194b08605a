#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark
# (perfbench/src) into one class directory, with the Scala compiler that
# ships among the Spark jars ($SPARK_HOME, else the install spark-submit on
# PATH belongs to). Usage: bash perfbench/build.sh <out-dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"
if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: no program sources under $root/src/main/scala" >&2
  exit 3
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | sort > "$out.tmp/sources.txt"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out.tmp" -cp "$jars/*" "@$out.tmp/sources.txt"
rm -rf "$out"
mv "$out.tmp" "$out"
