#!/usr/bin/env bash
# Canonical runner for long measurement mains (Scaling, tools/Ab,
# tools/*Scaling, Recall) — the durable form of the recipe that r13-r15
# re-learned piecemeal (r15 verdict #7):
#
#   * -Xmx48g ALWAYS. The ¼-RAM default heap inflated pipe1's 1000×
#     decade from 77 s to 139 s (pure GC) and several r13/r14 decade
#     numbers with it; 48g is the canonical heap every SCALING.json
#     row since r15 is measured at. Override via SPARK_DRIVER_MEM only
#     to STUDY heap sensitivity, never for rows merged into SCALING.
#   * runs from a SNAPSHOT of target/scala-2.13/classes so sbt stays
#     free for compiles/tests while a 45-60 min sweep runs.
#   * JPMS --add-opens mirrors build.sbt / Spark's JavaModuleOptions
#     (SparkSession outside spark-submit needs them on JDK 17).
#
# The measurement discipline the tools themselves own, recorded here so
# no future round re-discovers it:
#   * min-of-2 timed passes per point — this host has neighbor
#     contention that can make ONE pass 4× slower with zero code change;
#   * noop sink (`format("noop")`) — measures compute, not parquet
#     encode;
#   * shuffle width + scan split size from graft.Tune (bytes-derived:
#     width = clamp(cores, ceil(bytes/8MB), 2048); split =
#     clamp(4MB, bytes/(2·cores), 128MB)) — the policy a cluster owns;
#   * twin/variant comparisons (e.g. fixed-bits vs auto-bits graphs)
#     must be measured INTERLEAVED IN ONE SESSION — r14's "2× gap"
#     between d16 and its twin was host dispersion across sessions,
#     falsified by re-measuring both back-to-back; graft.tools.Ab is
#     the harness for that (equality-gated, interleaved, one JSON line
#     per spec);
#   * merge results with tools/update_scaling.py (surgical, keeps
#     history); merge_scaling.py REBUILDS and drops absent logs.
#
# Usage: tools/run_tool.sh <mainClass> [args...]
#   e.g. tools/run_tool.sh graft.tools.Ab /tmp/graftsf/sf10 2 \
#          d17_substring_runs d17_substring_runs~win \
#          b5_tpch_q5 b5_tpch_q5@spark.sql.shuffle.partitions=64
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN=$1; shift

SNAP=/tmp/graft-classes-snap
rm -rf "$SNAP"
cp -r target/scala-2.13/classes "$SNAP"

OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done

exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$SNAP:/opt/spark/jars/*" "$MAIN" "$@"
