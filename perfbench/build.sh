#!/usr/bin/env bash
# Build file of the benchmark: compiles the library sources (src/main/scala)
# together with the benchmark sources (perfbench/src) into
# .bench_build/classes, using the Scala compiler that ships among the Spark
# jars, and packs them into .bench_build/perfbench.jar. Run from anywhere;
# paths resolve against the repository root.
set -euo pipefail
cd "$(dirname "$0")/.."
JARS="${SPARK_HOME:?set SPARK_HOME to the Spark installation}/jars"
OUT=.bench_build/classes
JAR=.bench_build/perfbench.jar
shopt -s nullglob
compiler=("$JARS"/scala-compiler-2.13*.jar)
library=("$JARS"/scala-library-2.13*.jar)
reflect=("$JARS"/scala-reflect-2.13*.jar)
if [ ${#compiler[@]} -eq 0 ] || [ ${#library[@]} -eq 0 ] || [ ${#reflect[@]} -eq 0 ]; then
  echo "build.sh: no Scala 2.13 compiler in $JARS" >&2
  exit 1
fi
mapfile -t sources < <(find src/main/scala perfbench/src -name '*.scala' | sort)
rm -rf "$OUT" "$JAR" .bench_build/classes.jsa
mkdir -p "$OUT"
java -Xmx2g -Xss8m -cp "${compiler[0]}:${library[0]}:${reflect[0]}" \
  scala.tools.nsc.Main -nowarn -classpath "$JARS/*" -d "$OUT" "${sources[@]}"
if [ -d src/main/resources ]; then
  cp -r src/main/resources/. "$OUT"/
fi
jar cf "$JAR" -C "$OUT" .
