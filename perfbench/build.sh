#!/usr/bin/env bash
# Builds the benchmark: compiles graft's main sources (../src/main/scala)
# together with the harness (src/) into the classes directory given as $1,
# against the Spark 4 / Scala 2.13 jars directory given as $2 (it also
# provides the Scala compiler). Needs a JDK.
set -euo pipefail
out=${1:?usage: build.sh <classes-dir> <spark-jars-dir>}
jars=${2:?usage: build.sh <classes-dir> <spark-jars-dir>}
here=$(cd "$(dirname "$0")" && pwd)
main="$here/../src/main/scala"
[ -d "$main" ] || { echo "build.sh: graft sources not found at $main" >&2; exit 2; }
[ -d "$jars" ] || { echo "build.sh: Spark jars not found at $jars" >&2; exit 2; }
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar "$jars"/scala-reflect-2.13.*.jar | paste -sd:)
mkdir -p "$out"
find "$main" "$here/src" -name '*.scala' > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -classpath "$(ls "$jars"/*.jar | paste -sd:)" -d "$out" "@$out/sources.txt"
rm -f "$out/sources.txt"
