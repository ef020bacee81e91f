#!/usr/bin/env bash
# Shared launcher for the tool mains: compiles, then runs one graft main
# on the compiled classes with the JDK 17 module opens Spark needs (the
# list is build.sbt's jdk17AddOpens) and build.sbt's ParallelGC pin.
# Usage: tools/java.sh <heap> <main> [arg ...]
set -euo pipefail
cd "$(dirname "$0")/.."
heap=$1 main=$2
shift 2
sbt -batch compile >/dev/null
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=("--add-opens=java.base/$p=ALL-UNNAMED")
done
# build.sbt's GC pin: the tool mains time the collector graft.Bench runs under
opens+=(-XX:+UseParallelGC)
exec java "${opens[@]}" "-Xmx$heap" -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$main" "$@"
