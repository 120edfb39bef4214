#!/bin/bash
# Full regen-simulation gate: every codified sim shape standalone, then the
# composed gauntlet (propstruct -> widths -> decimal -> tz -> nanosdir ->
# hive stacked). Run
# whenever Tables.scala or any oracle SQL changes (CLAUDE.md discipline —
# regens are the only failure class that has ever produced a red round).
# Usage: bash tools/run_sims.sh [srcSfDir] [query ...]
#   srcSfDir defaults to /root/testdata/sf0.01; query names, when given,
#   restrict both the Verify dump and the oracle compare of every shape to
#   that subset (default: every contract query).
# Exit status is a TRUE gate: nonzero when any shape's Verify fails or any
# oracle compare line is a MISMATCH / ERROR / missing dump.
set -e
cd "$(dirname "$0")/.."
SRC=${1:-/root/testdata/sf0.01}
QUERIES=("${@:2}")
FAILED=0

# one Verify + ONE oracle compare per shape (the compare re-runs every oracle
# SQL in DuckDB — minutes at sf0.01 — so its output is captured, not re-run)
check() { # check <label> <simDir> <outDir>
  sbt -batch "runMain graft.Verify $2 $3 ${QUERIES[*]}" > "/tmp/rs_$1.log" 2>&1 ||
    { echo "SIM $1: VERIFY FAILED (see /tmp/rs_$1.log)"; FAILED=1; return 0; }
  python3 tools/diff_oracle.py "$2" "$3" "${QUERIES[@]}" > "/tmp/rs_$1.diff" 2>&1 || true
  local n bad
  n=$(grep -c ": MATCH" "/tmp/rs_$1.diff" || true)
  # real failures only — benign 'NO ORACLE (rows-only)' lines are excluded
  bad=$(grep -E "MISMATCH|ERROR|NO SPARK DUMP" "/tmp/rs_$1.diff" | head -5)
  if [ -n "$bad" ]; then
    echo "SIM $1: FAIL — $n MATCH; failures: $bad (full: /tmp/rs_$1.diff)"
    FAILED=1
  else
    echo "SIM $1: OK — $n MATCH"
  fi
}

for sim in widths nanosdir f32meas millis decimal dirall hive encoding tz int96 propstruct; do
  rm -rf /tmp/rs_$sim /tmp/rsout_$sim
  python3 tools/regen_sim.py $sim "$SRC" /tmp/rs_$sim > /dev/null 2>&1
  check $sim /tmp/rs_$sim /tmp/rsout_$sim
done
rm -rf /tmp/rs_c0 /tmp/rs_c1 /tmp/rs_c2 /tmp/rs_c3 /tmp/rs_c4 /tmp/rs_c5 /tmp/rsout_comp
python3 tools/regen_sim.py propstruct "$SRC" /tmp/rs_c0 > /dev/null 2>&1
python3 tools/regen_sim.py widths /tmp/rs_c0 /tmp/rs_c1 > /dev/null 2>&1
python3 tools/regen_sim.py decimal /tmp/rs_c1 /tmp/rs_c2 > /dev/null 2>&1
python3 tools/regen_sim.py tz /tmp/rs_c2 /tmp/rs_c3 > /dev/null 2>&1
python3 tools/regen_sim.py nanosdir /tmp/rs_c3 /tmp/rs_c4 > /dev/null 2>&1
python3 tools/regen_sim.py hive /tmp/rs_c4 /tmp/rs_c5 > /dev/null 2>&1
# the composed gauntlet: all six layout/type/semantic shapes stacked
check composed /tmp/rs_c5 /tmp/rsout_comp

if [ "$FAILED" -ne 0 ]; then echo "SIM GATE: FAILED"; exit 1; fi
echo "SIM GATE: ALL SHAPES PASS"
