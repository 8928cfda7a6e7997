#!/bin/bash
# Build file of the benchmark: compiles the engine (src/main/scala) and the
# benchmark's JVM program (perfbench/scala) with the Scala compiler shipped
# in the Spark jars, into .bench_build/classes. Skips the compile when the
# sources are unchanged since the last build.
#
#   SPARK_JARS=$SPARK_HOME/jars bash perfbench/build.sh   (from the repository root)
set -euo pipefail
cd "$(dirname "$0")/.."
SPARK_JARS="${SPARK_JARS:-${SPARK_HOME:?set SPARK_HOME or SPARK_JARS}/jars}"
OUT="${CARGO_TARGET_DIR:-.bench_build}"
[ -d src/main/scala ] || { echo "build: no engine sources under src/main/scala" >&2; exit 2; }
[ -d "$SPARK_JARS" ] || { echo "build: no Spark jars at $SPARK_JARS" >&2; exit 2; }
mapfile -t SOURCES < <(find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
STAMP=$(cat "${SOURCES[@]}" perfbench/build.sh | sha256sum | cut -d' ' -f1)
if [ -f "$OUT/classes.stamp" ] && [ "$(cat "$OUT/classes.stamp")" = "$STAMP" ]; then
  exit 0
fi
rm -rf "$OUT/classes" "$OUT/classes.stamp"
mkdir -p "$OUT/classes"
java -Xss8m -Xmx2g -cp "$SPARK_JARS/*" scala.tools.nsc.Main -nowarn \
  -classpath "$SPARK_JARS/*" -d "$OUT/classes" "${SOURCES[@]}" >&2
echo "$STAMP" > "$OUT/classes.stamp"
