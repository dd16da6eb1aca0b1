#!/usr/bin/env bash
# Compile the engine (src/main) and the benchmark harness into one class
# directory with the Scala compiler that ships in the Spark distribution.
# Usage: perfbench/build.sh <out-dir> <spark-jars-dir>   (from the repository root)
set -euo pipefail
out=$1
jars=$2
test -d src/main/scala && test -d "$jars"
rm -rf "$out" && mkdir -p "$out/classes"
find src/main/scala perfbench/harness -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir="$out" -cp "$jars/*" \
  scala.tools.nsc.Main -nowarn -Ybackend-parallelism 4 \
  -classpath "$jars/*" -d "$out/classes" @"$out/sources.txt"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out/classes/"; fi
touch "$out/ok"
