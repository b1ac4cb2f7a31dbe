#!/usr/bin/env bash
# Pre-commit / pre-snapshot guard (r12 lesson: the round's final commit
# shipped a loader change without re-running the suite and broke one
# plan-shape assertion — "sbt test green" is the bar, so enforce it).
#
# Usage:
#   scripts/preflight.sh                 # full gate: compile + full suite
#   scripts/preflight.sh graft.FooSpec   # fast gate: compile + named suites
#
# Rule of thumb: run the fast gate (suites touching your diff) before
# every commit; run the FULL gate before any end-of-round snapshot or
# any commit that touches loaders/plans shared across queries.
set -euo pipefail
cd "$(dirname "$0")/.."

# One session contract: graft.Sessions.local is the only session builder
# under src/ (GraftExtensions checks its ANSI-off/UTC preconditions; a
# hand-rolled builder is how they drifted before).
builders="$(grep -rl 'SparkSession.builder' src | grep -v '/graft/Sessions\.scala$' || true)"
if [ -n "$builders" ]; then
  echo "== preflight FAILED: SparkSession.builder outside graft/Sessions.scala (use Sessions.local):" >&2
  echo "$builders" | sed 's/^/   /' >&2
  exit 1
fi

# Both gates verify tests actually RAN (r13 ADVICE: `testOnly` with a
# misspelled suite matches zero tests and sbt exits 0 — the exact
# failure mode this script exists to prevent). ScalaTest prints one
# "Total number of tests run: N" summary per test run; require N > 0.
out="$(mktemp)"
start="$(mktemp)" # its mtime marks this run's start

# Per-suite wall time from the JUnit reports THIS run wrote (newer than
# $start, so reports left by earlier testOnly runs are ignored): the
# slowest five first, then the rest, then the total. Printed on every
# exit, pass or fail; it never changes the exit status.
suite_times() {
  local reports=target/test-reports
  [ -d "$reports" ] || return 0
  find "$reports" -name 'TEST-*.xml' -newer "$start" -print0 \
    | xargs -0 -r grep -ho '<testsuite [^>]*' \
    | sed -nE 's/.* name="([^"]*)".* time="([0-9.]+)".*/\2 \1/p' \
    | sort -rn \
    | awk '{ printf "   %9.1f s  %s\n", $1, $2; t += $1; n++ }
           NR == 5 { print "   ---" }
           END { if (n) printf "== suite time: %.1f s over %d suites (slowest first)\n", t, n }'
}
trap 'suite_times || true; rm -f "$out" "$start"' EXIT

if [ "$#" -gt 0 ]; then
  suites="$*"
  echo "== preflight (fast): compile + testOnly $suites"
  sbt -batch "Test/compile" "testOnly $suites" | tee "$out"
else
  echo "== preflight (full): compile + full suite"
  sbt -batch "Test/compile" test | tee "$out"
fi

# `|| true`: when the summary line is absent entirely (testOnly matched
# zero suites and ScalaTest never ran), grep exits 1 and, under `set -e`,
# would abort this assignment before the diagnostic below could print
# (r14 ADVICE) — the gate must fail closed WITH its message
total=$( { grep -oE 'Total number of tests run: [0-9]+' "$out" || true; } \
  | awk '{s += $NF} END {print s + 0}')
if [ "$total" -eq 0 ]; then
  echo "== preflight FAILED: 0 tests executed (suite name typo? nothing matched)" >&2
  exit 1
fi
echo "== preflight OK ($total tests ran)"
