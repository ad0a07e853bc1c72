#!/usr/bin/env bash
# Builds the program and the benchmark harness from source.
#
#   bash perfbench/build.sh <out-dir>      (run from the repository root)
#
# Compiles src/main/scala together with perfbench/src into <out-dir>/classes
# with the Scala compiler that ships in the Spark distribution, then writes
# every query's DuckDB oracle SQL (SparkEntry.oracleSql) to
# <out-dir>/classes/oracle_sql.json and the JVM module options Spark's
# launcher passes (JavaModuleOptions) to <out-dir>/classes/jvm_options.txt.
# Needs a JDK and $SPARK_HOME/jars (run.py sets SPARK_HOME).
set -euo pipefail
out=${1:?usage: build.sh <out-dir>}
jars="${SPARK_HOME:?set SPARK_HOME to a Spark 4 distribution}/jars"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala under $(pwd)" >&2; exit 1; }
rm -rf "$out/classes" "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
# keep every file the JVMs write under <out-dir> (no hsperfdata, own tmpdir)
mkdir -p "$out/tmp"
jvm=(java -XX:-UsePerfData "-Djava.io.tmpdir=$out/tmp")
"${jvm[@]}" -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes.tmp" @"$out/sources.txt"
"${jvm[@]}" -cp "$out/classes.tmp:$jars/*" graftbench.Main build-info \
  --dir "$out/classes.tmp"
mv "$out/classes.tmp" "$out/classes"
