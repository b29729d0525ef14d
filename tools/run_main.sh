#!/usr/bin/env bash
# Plain-java launcher for any graft main: (re)compiles when the classes
# are missing or a main source is newer than the last compile's stamp
# file, then runs the class with build.sbt's fork flags. No sbt wrapper
# chatter reaches stdout, so a main's own last stdout line stays the
# last line.
#
# Usage: tools/run_main.sh <MainClass> [args...]
#   e.g. tools/run_main.sh graft.Ingest <sfDir>
#        SPARK_GRAFT_SF_DIR=/tmp/graft_scale/x5 tools/run_main.sh graft.Diag q94_pagerank
#        (a K× rung from: python3 tools/gen_scale.py <srcSfDir> /tmp/graft_scale/x5 5)
#   (env: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM)
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="${1:?usage: tools/run_main.sh <MainClass> [args...]}"; shift

CLASSES=target/scala-2.13/classes
# touched after each compile: the classes directory's own mtime moves
# only when a top-level entry is added, not when sbt rewrites the
# class files below it
STAMP=target/run_main.stamp
if [ ! -d "$CLASSES" ] || [ ! -f "$STAMP" ] || \
   [ -n "$(find src/main -name '*.scala' -newer "$STAMP" -print -quit 2>/dev/null)" ]; then
  mkdir -p target && touch "$STAMP.next"
  sbt -batch compile 1>&2
  mv "$STAMP.next" "$STAMP"
fi

# JDK-17 module opens: same list as build.sbt (what spark-submit injects)
OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPEN_FLAGS=()
for p in "${OPENS[@]}"; do OPEN_FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done

exec java \
  "${OPEN_FLAGS[@]}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-48g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
