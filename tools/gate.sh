#!/usr/bin/env bash
# One-command provability gate: compile -> test -> verify vs DuckDB
# oracle -> bench. Mirrors what the round driver runs, so a green gate
# here means a green round.
#
# Usage:
#   tools/gate.sh              # gate scale (sf0.01), no bench
#   tools/gate.sh --quick     # iterating scale (sf0.001), no tests/bench
#   tools/gate.sh --full      # sf0.01 + sf0.1 bench (the full round shape)
#   tools/gate.sh --perf      # each perfbench workload once: oracle and
#                             # stream-multiset checks, 0 failed operations
#
# Gotchas encoded here (see .claude/skills/verify/SKILL.md for more):
# Spark logs land on stderr as [error]; only check.py's final
# "N pass, 0 fail" line and the one-line bench JSON matter.
set -euo pipefail
cd "$(dirname "$0")/.."

MODE="${1:-gate}"
case "$MODE" in
  --quick) SF=/root/testdata/sf0.001; RUN_TESTS=0; RUN_BENCH=0 ;;
  --full)  SF=/root/testdata/sf0.01;  RUN_TESTS=1; RUN_BENCH=1 ;;
  --perf)  ;;
  gate)    SF=/root/testdata/sf0.01;  RUN_TESTS=1; RUN_BENCH=0 ;;
  *) echo "unknown mode '$MODE' (use --quick, --full, --perf, or no argument)"; exit 2 ;;
esac

if [[ "$MODE" == --perf ]]; then
  # perfbench builds its own classes with scalac, so no sbt step; each
  # run checks its outputs (catalog: tools/check.py against the DuckDB
  # oracle; stream: the joined multiset against the batch pipeline)
  LOGS=$(mktemp -d /tmp/graft_gatelog.XXXXXX)
  for W in stedi_stream catalog; do
    echo "== gate: perfbench $W =="
    python3 perfbench/run.py --workload "$W" --seed 1 --seconds 10 --trace 0 \
      > "$LOGS/perf_$W.log" 2>&1 || true
    RESULT=$(grep '^{"correct"' "$LOGS/perf_$W.log" | tail -1 || true)
    echo "${RESULT:-no result line (full log: $LOGS/perf_$W.log)}"
    python3 -c 'import json, sys; r = json.loads(sys.argv[1]); sys.exit(0 if r["correct"] is True and r["failed"] == 0 else 1)' \
      "${RESULT:-null}" 2>/dev/null \
      || { echo "PERFBENCH $W FAILED (full log: $LOGS/perf_$W.log)"; exit 1; }
  done
  echo "== gate: GREEN =="
  exit 0
fi

# logs live OUTSIDE the verify output dir: check.py treats every entry
# of the output dir as a query result, so a stray gate.log would be
# reported as a failing query
OUT=$(mktemp -d /tmp/graft_gate.XXXXXX)
LOGS=$(mktemp -d /tmp/graft_gatelog.XXXXXX)
LOG=$LOGS/gate.log

echo "== gate: compile =="
sbt -batch compile

if [[ "$RUN_TESTS" == 1 ]]; then
  echo "== gate: sbt test =="
  if ! sbt -batch test > "$LOG" 2>&1; then
    # grep must not abort the diagnostics under set -e when the log has
    # no test lines (e.g. a compile error)
    grep -E "\*\*\* FAILED|Failed tests|Tests:|error\]" "$LOG" | head -20 || true
    echo "TESTS FAILED (full log: $LOG)"
    exit 1
  fi
  grep -hE "^\[info\] Tests:" "$LOG" | tail -20 || true
fi

echo "== gate: verify @$SF =="
SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify $SF $OUT" 2>&1 \
  | { grep -E "\[verify\].*failed" || true; } | tee "$LOGS/verify_fail.log"
[[ -s $LOGS/verify_fail.log ]] && { echo "VERIFY QUERY FAILED"; exit 1; }

echo "== gate: oracle check =="
# check.py exits nonzero on any mismatch; capture instead of letting
# pipefail kill the script before the verdict prints
python3 tools/check.py "$SF" "$OUT" > "$LOGS/check.log" 2>&1 || true
tail -3 "$LOGS/check.log"
grep -q " 0 fail" <(tail -1 "$LOGS/check.log") \
  || { echo "ORACLE MISMATCH (full log: $LOGS/check.log)"; exit 1; }

if [[ "$RUN_BENCH" == 1 ]]; then
  echo "== gate: bench @sf0.1 =="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench" 2>&1 | grep -o '{"metric".*}'
fi

echo "== gate: GREEN =="
