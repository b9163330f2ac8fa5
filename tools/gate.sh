#!/usr/bin/env bash
# One-command provability gate: greps -> compile -> test ->
# verify vs DuckDB oracle -> bench. Mirrors what the round driver runs,
# so a green gate here means a green round.
#
# Usage:
#   tools/gate.sh              # gate scale (sf0.01), no bench
#   tools/gate.sh --quick     # iterating scale (sf0.001), no tests/bench
#   tools/gate.sh --full      # sf0.01 + sf0.1 bench (the full round shape)
#   tools/gate.sh --perf      # each perfbench workload once: oracle and
#                             # stream-multiset checks, 0 failed operations
#   tools/gate.sh --plans     # regenerate the plan digest (sf0.01) and
#                             # fail on any byte of drift from PLAN_DIGEST.md
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
  --perf|--plans) ;;
  gate)    SF=/root/testdata/sf0.01;  RUN_TESTS=1; RUN_BENCH=0 ;;
  *) echo "unknown mode '$MODE' (use --quick, --full, --perf, --plans, or no argument)"; exit 2 ;;
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

if [[ "$MODE" == --plans ]]; then
  # the digest goes to a temp file (SPARK_GRAFT_PLAN_OUT), never over
  # the committed one, so a drifting tree leaves PLAN_DIGEST.md intact;
  # it runs at PlanDigest's default scale, the one the committed file uses
  LOGS=$(mktemp -d /tmp/graft_gatelog.XXXXXX)
  DIGEST=$LOGS/PLAN_DIGEST.md
  echo "== gate: plan digest =="
  env -u SPARK_GRAFT_SF_DIR SPARK_GRAFT_PLAN_OUT="$DIGEST" \
    sbt -batch "runMain graft.tools.PlanDigest" > "$LOGS/plans.log" 2>&1 \
    || { echo "PLAN DIGEST RUN FAILED (full log: $LOGS/plans.log)"; exit 1; }
  [[ -s $DIGEST ]] || { echo "NO DIGEST WRITTEN (full log: $LOGS/plans.log)"; exit 1; }
  if diff -u PLAN_DIGEST.md "$DIGEST" > "$LOGS/plans.diff"; then
    echo "PLAN_DIGEST.md byte-identical ($(grep -c '^## ' "$DIGEST") sections)"
  else
    head -40 "$LOGS/plans.diff"
    echo "PLAN DRIFT (full diff: $LOGS/plans.diff)"
    exit 1
  fi
  echo "== gate: GREEN =="
  exit 0
fi

# logs live OUTSIDE the verify output dir: check.py treats every entry
# of the output dir as a query result, so a stray gate.log would be
# reported as a failing query
OUT=$(mktemp -d /tmp/graft_gate.XXXXXX)
LOGS=$(mktemp -d /tmp/graft_gatelog.XXXXXX)
LOG=$LOGS/gate.log

echo "== gate: release path =="
# queries release their checkpoints through Storage.releasing and
# Storage.rounds only; a direct release call is how a leak on the
# failure path comes back
if grep -rn "unpersistLocalCheckpoint" src/main/scala/graft/queries/; then
  echo "DIRECT CHECKPOINT RELEASE IN queries/ (use Storage.releasing)"
  exit 1
fi

echo "== gate: one materialization path =="
# every pin and cache goes through operators/Storage.scala, which
# materializes with one counting job and releases what it took when
# that job throws; a direct localCheckpoint, persist or cache elsewhere
# is how the leak on the failure path and the re-count come back
if grep -rnE 'localCheckpoint\(|\.persist\(|\.cache\(\)' src/main --include='*.scala' \
    | grep -v '^src/main/scala/graft/operators/Storage\.scala:'; then
  echo "DIRECT PIN OR CACHE IN src/main (use Storage.pin, Storage.cache and their scopes)"
  exit 1
fi

echo "== gate: a sweep is one plan =="
# an operator that sweeps settings or segments takes them as a
# column of one plan; a union-reduce of N copies of one subplan is how
# the per-setting sweeps come back. The one union-reduce kept is
# LsmSegments.readArtifacts' perPath form: a multi-root read of
# partitioned dirs fails Spark's conflicting-directory check
if grep -rnE 'reduce\(_\.unionByName\(_\)\)|reduce\(_ unionByName _\)' src/main/scala/graft/operators/ \
    | grep -v '^src/main/scala/graft/operators/LsmSegments\.scala:.*perPath'; then
  echo "UNION-REDUCE IN operators/ (take the setting as a column of one plan)"
  exit 1
fi

echo "== gate: carried schemas =="
# index segments, trained state and durable state are read through
# LsmSegments.readArtifacts under the schema their writer recorded; a
# plain parquet read in operators/ or streaming/ is a schema-inference
# job coming back
if grep -rn "read\.parquet(" src/main/scala/graft/operators/ src/main/scala/graft/streaming/; then
  echo "INFERRING PARQUET READ IN operators/ OR streaming/ (use LsmSegments.readArtifacts)"
  exit 1
fi

echo "== gate: one stream driver, one durable commit =="
# every stream in streaming/ starts through StreamingOps.foreachBatch,
# and durable state commits through LsmSegments' epoch markers only: a
# second writeStream chain or a second commit marker is how the
# per-tier wrappers and the second commit protocol come back
WRITE_STREAMS=$( (grep -ro '\.writeStream' src/main/scala/graft/streaming/ || true) | wc -l)
if (( WRITE_STREAMS > 1 )); then
  grep -rn '\.writeStream' src/main/scala/graft/streaming/
  echo "$WRITE_STREAMS .writeStream IN streaming/ (start streams with StreamingOps.foreachBatch)"
  exit 1
fi
if grep -rn "_COMMITTED" src/main; then
  echo "_COMMITTED MARKER IN src/main (commit durable state with LsmSegments.appendEpoch)"
  exit 1
fi

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
