#!/usr/bin/env bash
# Compile StageBench.scala against one checkout's perfbench classpath and
# run it on a seeded trace-ingest batch.
#
#   stagebench.sh CHECKOUT OUT_DIR [SEED] [REPS]
#
# CHECKOUT must have been built by perfbench (one `python3
# perfbench/run.py ...` run leaves perfbench/target/classpath.txt).
# The bench's JSON lines go to stdout; its classes, batch and outputs
# live under OUT_DIR.
set -euo pipefail
checkout=$(cd "$1" && pwd)
out=$2
seed=${3:-11}
reps=${4:-5}
here=$(cd "$(dirname "$0")" && pwd)
cp_file="$checkout/perfbench/target/classpath.txt"
[ -f "$cp_file" ] || { echo "no $cp_file: run perfbench once" >&2; exit 1; }
classpath=$(cat "$cp_file")
rm -rf "$out" && mkdir -p "$out/classes" "$out/work"
# the classpath carries Spark's own scala-compiler jar
java -cp "$classpath" scala.tools.nsc.Main -nowarn -usejavacp \
  -d "$out/classes" "$here/StageBench.scala"
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
java -Xms2g -Xmx2g "${opens[@]}" -Djava.io.tmpdir="$out/work" \
  -Dlog4j2.configurationFile="$checkout/perfbench/log4j2.properties" \
  -Dspark.ui.enabled=false \
  -cp "$out/classes:$classpath" graft.perfbench.StageBench \
  "$out/work" "$seed" "$reps"
