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
# Each run works in its own `mktemp -d` directory, so two runs never share
# inputs. The rewritten tables and Verify dumps are removed on exit; the logs
# and oracle diffs are kept (and their directory printed) only when the gate
# fails.
set -e
cd "$(dirname "$0")/.."
SRC=${1:-/root/testdata/sf0.01}
QUERIES=("${@:2}")
FAILED=0
WORK=$(mktemp -d "${TMPDIR:-/tmp}/run_sims.XXXXXX")
LOGS=$WORK/logs
mkdir -p "$LOGS"
cleanup() {
  local status=$?
  rm -rf "$WORK/tables" "$WORK/out"
  if [ "$status" -eq 0 ]; then rm -rf "$WORK"
  else echo "SIM GATE: logs and diffs kept in $LOGS"; fi
}
trap cleanup EXIT

# one Verify + ONE oracle compare per shape (the compare re-runs every oracle
# SQL in DuckDB — minutes at sf0.01 — so its output is captured, not re-run)
check() { # check <label> <simDir> <outDir>
  sbt -batch "runMain graft.Verify $2 $3 ${QUERIES[*]}" > "$LOGS/$1.log" 2>&1 ||
    { echo "SIM $1: VERIFY FAILED (see $LOGS/$1.log)"; FAILED=1; return 0; }
  python3 tools/diff_oracle.py "$2" "$3" "${QUERIES[@]}" > "$LOGS/$1.diff" 2>&1 || true
  local n bad
  n=$(grep -c ": MATCH" "$LOGS/$1.diff" || true)
  # real failures only — benign 'NO ORACLE (rows-only)' lines are excluded
  bad=$(grep -E "MISMATCH|ERROR|NO SPARK DUMP" "$LOGS/$1.diff" | head -5)
  if [ -n "$bad" ]; then
    echo "SIM $1: FAIL — $n MATCH; failures: $bad (full: $LOGS/$1.diff)"
    FAILED=1
  else
    echo "SIM $1: OK — $n MATCH"
  fi
}

# one table rewrite, logged to regen_<label>.log; a failed rewrite names its
# shape and ends the gate (every later step would read a missing table)
regen() { # regen <label> <shape> <srcDir> <dstDir>
  python3 tools/regen_sim.py "$2" "$3" "$4" > "$LOGS/regen_$1.log" 2>&1 ||
    { echo "SIM $1: REGEN FAILED (see $LOGS/regen_$1.log)"; exit 1; }
}

T=$WORK/tables
O=$WORK/out
mkdir -p "$T" "$O"
for sim in widths nanosdir f32meas millis decimal dirall hive encoding tz int96 propstruct; do
  regen $sim $sim "$SRC" "$T/$sim"
  check $sim "$T/$sim" "$O/$sim"
done
regen composed_propstruct propstruct "$SRC" "$T/c0"
regen composed_widths widths "$T/c0" "$T/c1"
regen composed_decimal decimal "$T/c1" "$T/c2"
regen composed_tz tz "$T/c2" "$T/c3"
regen composed_nanosdir nanosdir "$T/c3" "$T/c4"
regen composed_hive hive "$T/c4" "$T/c5"
# the composed gauntlet: all six layout/type/semantic shapes stacked
check composed "$T/c5" "$O/composed"

if [ "$FAILED" -ne 0 ]; then echo "SIM GATE: FAILED"; exit 1; fi
echo "SIM GATE: ALL SHAPES PASS"
