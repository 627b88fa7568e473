#!/bin/bash
# sf100 evidence run: the four BenchSf10 sweeps on the current build under
# scaleBuilder's DERIVED knobs, then the scratch-disk probe. Every
# artifact name carries the tag, e.g. BENCH_SF100_TPCH_<tag>.json.
# Keeps the phase split of the earlier sf100 artifacts so runs compare
# like with like. Runs sequentially (each sweep sizes shuffle scratch for
# a quiet machine). Exit codes are accumulated: a failed sweep is named
# in the summary and the script exits nonzero.
#
# Usage (from the repo root, after `sbt compile`, with the generated
# tables in data/sf100): tools/run_sf100.sh <tag>
set -u
if [ $# -ne 1 ]; then
  echo "usage: $0 <tag>" >&2
  exit 2
fi
tag="$1"
cd "$(dirname "$0")/.."

JAVA_FLAGS=(
  --add-opens java.base/java.lang=ALL-UNNAMED
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens java.base/java.io=ALL-UNNAMED
  --add-opens java.base/java.net=ALL-UNNAMED
  --add-opens java.base/java.nio=ALL-UNNAMED
  --add-opens java.base/java.util=ALL-UNNAMED
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens java.base/sun.security.action=ALL-UNNAMED
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED
  -Dspark.ui.enabled=false
  -Dspark.sql.session.timeZone=UTC
  -Xmx48g
)
CP="target/scala-2.13/classes:/opt/spark/jars/*"

failed_sweeps=()

run_sweep() {
  local phases="$1" out="$2"; shift 2
  echo "=== sweep phases=$phases out=$out $(date -u +%H:%M:%S) ==="
  env SPARK_GRAFT_SF10_DIR=data/sf100 \
      SPARK_GRAFT_SF10_OUT="$out" \
      SPARK_GRAFT_PHASES="$phases" \
      "$@" \
      java "${JAVA_FLAGS[@]}" -cp "$CP" graft.tools.BenchSf10
  local rc=$?
  if [ $rc -ne 0 ] || [ ! -s "$out" ]; then
    failed_sweeps+=("$out(rc=$rc)")
  fi
  echo "=== done $out rc=$rc $(date -u +%H:%M:%S) ==="
}

run_sweep tpch "BENCH_SF100_TPCH_$tag.json"
run_sweep dedup_incr,spans,bpe,pipeline,ann "BENCH_SF100_$tag.json"
run_sweep dedup_recall "BENCH_SF100_RECALL_$tag.json"
# sf100 ingest: many small micro-batches so one batch's six-gate working
# set fits a single node's scratch (same knobs as the r10 artifact)
run_sweep ingest "BENCH_INGEST_SF100_$tag.json" \
  SPARK_GRAFT_INGEST_FILES=32 SPARK_GRAFT_INGEST_MAXFILES=1

# scratch-disk characterization for the four heaviest TPC-H shuffles
scratch_out="SCRATCH_SF100_$tag.json"
echo "=== scratch probe $(date -u +%H:%M:%S) ==="
env SPARK_GRAFT_SF_DIR=data/sf100 \
    SPARK_GRAFT_OUT="$scratch_out" \
    java "${JAVA_FLAGS[@]}" -cp "$CP" graft.tools.ScratchProbe
rc=$?
if [ $rc -ne 0 ] || [ ! -s "$scratch_out" ]; then
  failed_sweeps+=("$scratch_out(rc=$rc)")
fi

if [ ${#failed_sweeps[@]} -ne 0 ]; then
  echo "=== SWEEPS FAILED: ${failed_sweeps[*]} $(date -u +%H:%M:%S) ==="
  exit 1
fi
echo "=== all sweeps complete $(date -u +%H:%M:%S) ==="
