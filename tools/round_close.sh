#!/usr/bin/env bash
# Correctness gate: compile + test, then Verify + DuckDB oracle compare at
# sf0.001 and sf0.01. Run before a final commit so a broken HEAD is caught
# here rather than by the next reader. Performance is measured by the
# kbbench benchmark (python3 kbbench/run.py), not by this script.
#
# Usage: tools/round_close.sh           # full gate
#        tools/round_close.sh --quick   # sf0.001 verify only
set -uo pipefail
cd "$(dirname "$0")/.."
fail=0

step() { echo; echo "=== $* ==="; }

step "sbt compile + test"
if ! sbt -batch test 2>&1 | tail -4; then
  echo "FAIL: sbt test"; fail=1
fi

for sf in 0.001 0.01; do
  step "Verify + oracle @ sf$sf"
  rm -rf "/tmp/round_close_$sf"
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf /tmp/round_close_$sf" \
    2>&1 | grep '\[verify\]' || true
  # the full per-query verdicts stay in verdicts.txt, so comparing two
  # checkouts is one diff of that file
  if ! python3 tools/check_oracle.py "/tmp/round_close_$sf" "/root/testdata/sf$sf" \
      | tee "/tmp/round_close_$sf/verdicts.txt" | tail -3; then
    echo "FAIL: oracle compare @ sf$sf"; fail=1
  fi
  [ "${1:-}" = "--quick" ] && break
done

echo
if [ "$fail" = 0 ]; then echo "ROUND-CLOSE GATE: ALL GREEN"; else echo "ROUND-CLOSE GATE: FAILURES ABOVE"; fi
exit $fail
