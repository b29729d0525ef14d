#!/usr/bin/env bash
# Plain-java benchmark entry point.
#
# Running graft.Bench through sbt leaves sbt's "[success] Total time..."
# as the true last stdout line, which breaks any consumer that parses
# the LAST line of captured stdout as the result JSON. This script runs
# Bench directly with java through tools/run_main.sh (build.sbt's fork
# flags), so the bare result JSON emitted by Bench is the genuine final
# line of stdout. All build chatter goes to stderr.
#
# Usage: tools/bench.sh            (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
#                                        SPARK_GRAFT_BENCH_OUT, SPARK_DRIVER_MEM)
set -euo pipefail
cd "$(dirname "$0")/.."

tools/run_main.sh graft.Bench
rc=$?

# Archive the FULL per-query map per round: BENCH_r{N}.json keeps only
# the 8-slowest tail (the driver parses Bench's compact summary line),
# so round-over-round diffs need bench_out/r{N}.json. N = one past the
# highest archived round (re-runs within a round overwrite, so the last
# run before the driver's BENCH_r{N}.json lands is what's kept).
OUT="${SPARK_GRAFT_BENCH_OUT:-bench_out/latest.json}"
if [ $rc -eq 0 ] && [ -f "$OUT" ]; then
  # take the ROUND number only (BENCH_r14_c8.json must parse as 14,
  # not 148 — stripping all non-digits concatenated the suffix)
  last=$(ls BENCH_r*.json 2>/dev/null \
    | sed -n 's/^BENCH_r\([0-9]*\).*/\1/p' | sort -n | tail -1)
  cp "$OUT" "bench_out/r$(( ${last:-0} + 1 )).json"
fi
exit $rc
