#!/bin/bash
# Scale campaign for one round: the full battery at sf0.1 and sf1, the
# heavy tail at sf10 (the quadratic-by-contract tier is excluded per its
# documented cost model — see ScaleCheck's Exempt entries). Each run
# persists its bench line, with per-query shuffle bytes for the ScaleCheck
# bytes gate, to BENCH_<scale>_<round>.json.
#
#   scripts/campaign.sh <round>      e.g. scripts/campaign.sh r17
#
# Expects compiled classes (sbt compile) and SPARK_HOME. Fixture dirs: the
# sf0.1 run uses graft.Bench's default unless SF01_DIR is set; SF1_DIR and
# SF10_DIR default to graft.ScaleGen's output location.
set -x
ROUND="${1:?usage: scripts/campaign.sh <round tag, e.g. r17>}"
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:${SPARK_HOME:?set SPARK_HOME to the Spark install}/jars/*"
SKIP="q46_levenshtein_pairs,q47_dedup_clusters,q133_dedup_keep_best"

env ${SF01_DIR:+SPARK_GRAFT_SF_DIR="$SF01_DIR"} SPARK_GRAFT_BENCH_OUT="BENCH_SF01_${ROUND}.json" \
  java -cp "$CP" graft.Bench > /tmp/bench_sf01.log 2>&1
echo "SF01 EXIT=$?"

SPARK_GRAFT_SF_DIR="${SF1_DIR:-/tmp/graft_testdata/sf1}" SPARK_GRAFT_BENCH_OUT="BENCH_SF1_${ROUND}.json" \
  java -cp "$CP" graft.Bench > /tmp/bench_sf1.log 2>&1
echo "SF1 EXIT=$?"

SPARK_GRAFT_SF_DIR="${SF10_DIR:-/tmp/graft_testdata/sf10}" SPARK_GRAFT_BENCH_OUT="BENCH_SF10_${ROUND}.json" \
  SPARK_GRAFT_SKIP="$SKIP" \
  java -cp "$CP" graft.Bench > /tmp/bench_sf10.log 2>&1
echo "SF10 EXIT=$?"
echo CAMPAIGN_DONE
