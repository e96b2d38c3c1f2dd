#!/bin/bash
# Run a graft main from the sbt-compiled classes without holding the sbt
# target lock (lets long benches run while sbt keeps compiling).
# Snapshots the classes dir first: Spark's ClosureCleaner re-reads class
# bytes at job-submit time, so an sbt recompile under a running JVM crashes
# it (NPE: "capturingClassReader is null").
# Cores and heap come from the host (scripts/host_env.sh).
# Usage: scripts/run_main.sh graft.BenchPipeline [args...]
. "$(dirname "$0")/host_env.sh"
cd "$GRAFT_ROOT"
SNAP=$(mktemp -d /tmp/graft_classes_XXXX)
cp -r target/scala-2.13/classes/. "$SNAP/"
trap 'rm -rf "$SNAP"' EXIT
"${GRAFT_JAVA[@]}" -cp "$SNAP:/opt/spark/jars/*" "$@"
