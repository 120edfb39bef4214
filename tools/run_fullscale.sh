#!/bin/bash
# Full-scale (sf0.1) correctness gate: the per-round Verify/oracle check runs
# at sf0.01, so a scale-ONLY divergence (the r03 `agg_moments` class — e.g. a
# sum crossing 2^53, a sketch threshold, a partition-count-dependent code
# path) can slip a round. This script promotes the ad-hoc sf0.1 spot-check to
# a TRUE gate (nonzero exit on any divergence):
#
#   1. graft.Verify at sf0.1 — every contract query, parquet dumps.
#   2. tools/sweep_oracle.py — every DuckDB oracle re-run at sf0.1 under a
#      per-query timeout; FAIL / NO_DUMP are red. TIMEOUT is tolerated here
#      because step 3 covers exactly those lanes.
#   3. graft.RecallCheck — the pair-join/ANN lanes whose brute-force SQL is
#      intractable at sf0.1, verified EXACTLY Spark-side (exits 1 itself).
#
# Usage: bash tools/run_fullscale.sh [sfDir] [timeoutSec]
#   sfDir default /root/testdata/sf0.1; timeoutSec per-oracle, default 180.
# Each run works in its own `mktemp -d` directory. The Verify dump is removed
# on exit; the logs are kept (and their directory printed) only when the gate
# fails.
set -e
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.1}
TMO=${2:-180}
WORK=$(mktemp -d "${TMPDIR:-/tmp}/run_fullscale.XXXXXX")
OUT=$WORK/out
FAILED=0
cleanup() {
  local status=$?
  rm -rf "$OUT"
  if [ "$status" -eq 0 ]; then rm -rf "$WORK"
  else echo "FULLSCALE GATE: logs kept in $WORK"; fi
}
trap cleanup EXIT

echo "== fullscale gate: Verify at $SF"
sbt -batch "runMain graft.Verify $SF $OUT" > "$WORK/verify.log" 2>&1 ||
  { echo "FULLSCALE: VERIFY FAILED (see $WORK/verify.log)"; exit 1; }

echo "== fullscale gate: oracle sweep (timeout ${TMO}s/query)"
python3 tools/sweep_oracle.py "$SF" "$OUT" "$TMO" | tee "$WORK/sweep.log"
test "${PIPESTATUS[0]}" -eq 0 || FAILED=1

echo "== fullscale gate: RecallCheck (pair/ANN lanes, Spark-side exact)"
sbt -batch "Test/runMain graft.RecallCheck" > "$WORK/recall.log" 2>&1 ||
  { echo "FULLSCALE: RECALLCHECK FAILED (see $WORK/recall.log)"; FAILED=1; }
grep -E "EXACT|OK|FAIL" "$WORK/recall.log" | tail -20

if [ "$FAILED" -ne 0 ]; then echo "FULLSCALE GATE: FAILED"; exit 1; fi
echo "FULLSCALE GATE: PASS"
