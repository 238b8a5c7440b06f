#!/usr/bin/env bash
# Compiles the program (src/main/scala) and the benchmark (kgbench/src)
# into one jar with the Scala compiler that ships in $SPARK_HOME/jars, the
# same jars the program runs on.
#
#   bash kgbench/build.sh <out-dir>      (run from the repository root)
#
# Skips the compile when the sources are unchanged since the last build.
set -euo pipefail
out="${1:?usage: build.sh <out-dir>}"
: "${SPARK_HOME:?SPARK_HOME must point at the Spark install the program runs on}"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here; run from the repository root" >&2; exit 2; }
ls "$SPARK_HOME"/jars/scala-compiler-*.jar >/dev/null 2>&1 || { echo "build.sh: no Scala compiler in $SPARK_HOME/jars" >&2; exit 2; }
java_bin="${JAVA_HOME:+$JAVA_HOME/bin/}java"

srcs=$(find src/main/scala kgbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cat $srcs | sha256sum | cut -d' ' -f1)
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
# the class archive run.py records belongs to the old jar
rm -rf "$out/classes" "$out/classes.stamp" "$out/kgbench.jar" "$out/kgbench.jsa" \
  "$out/kgbench.jsa.tried"
mkdir -p "$out/classes"
# shellcheck disable=SC2086
"$java_bin" -Xmx2g -Xss8m -XX:-UsePerfData -Djava.io.tmpdir="$out" -cp "$SPARK_HOME/jars/*" scala.tools.nsc.Main \
  -nowarn -deprecation:false -d "$out/classes" -classpath "$SPARK_HOME/jars/*" $srcs
# one jar: the JVM archives classes from jars, not from directories
"${JAVA_HOME:+$JAVA_HOME/bin/}jar" cf "$out/kgbench.jar" -C "$out/classes" .
echo "$stamp" > "$out/classes.stamp"
