#!/usr/bin/env bash
# Compare two `graft.PlanDump` output directories query by query.
#
# Usage:
#   scripts/plandiff.sh <dirA> <dirB>
#
# PlanDump writes `<name>_<suffix>.txt` per query; files pair up by
# <name> (the suffix may differ between the two dirs). Before comparing,
# the identifiers that vary from run to run are masked:
#   #\d+             expression ids
#   \[\d+\]          bracketed counters
#   \w+\.scala:\d+   source positions
#   plan_id=\d+      exchange plan ids
#   $Lambda$...@...  lambda object identities
#   lambda x_120     lambda variable counters (JVM-global, so one extra
#                    lambda Column built earlier shifts them all),
#                    renumbered in order of first appearance per file
# and, in plans with a distinct-aggregate `Expand` (a `gid` column), the
# order Spark gives its distinct groups, which follows expression-id
# hashing and so differs between runs of one tree: scripts/
# plandiff_expand.py renumbers the `gid` literals by projection content
# and sorts the lists on the lines that carry `gid`.
# Prints one `identical|differs|only-in-A|only-in-B  <name>` line per
# query, then a summary; exits 1 when anything differs or is unpaired.
# `PLANDIFF_SHOW=1` also prints the masked diff of each differing query.
set -euo pipefail
export LC_ALL=C

if [ "$#" -ne 2 ]; then
  echo "usage: $0 <dirA> <dirB>" >&2
  exit 2
fi
a="$1"
b="$2"

expand="$(dirname "$0")/plandiff_expand.py"

mask_ids() {
  sed -E \
    -e 's/#[0-9]+/#N/g' \
    -e 's/\[[0-9]+\]/[N]/g' \
    -e 's/[A-Za-z0-9_]+\.scala:[0-9]+/X.scala:N/g' \
    -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/\$Lambda\$[^@[:space:],]*@[0-9a-f]+/$Lambda$X/g' \
    | perl -pe 's/\blambda (\w+)_(\d+)\b/"lambda $1_" . ($n{"$1_$2"} \/\/= ++$k)/ge'
}

mask() {
  if grep -q 'gid#[0-9]' "$1"; then
    python3 "$expand" relabel < "$1" | mask_ids | python3 "$expand" sort
  else
    mask_ids < "$1"
  fi
}

# <name> -> file, for one dir
index() {
  for f in "$1"/*.txt; do
    [ -e "$f" ] || continue
    n="$(basename "$f" .txt)"
    printf '%s\t%s\n' "${n%_*}" "$f"
  done | sort
}

ta="$(mktemp)"
tb="$(mktemp)"
ma="$(mktemp)"
mb="$(mktemp)"
trap 'rm -f "$ta" "$tb" "$ma" "$mb"' EXIT
index "$a" > "$ta"
index "$b" > "$tb"

same=0
bad=0
while IFS=$'\t' read -r name fa fb; do
  if [ -z "$fb" ]; then
    echo "only-in-A  $name"; bad=$((bad + 1)); continue
  fi
  if [ -z "$fa" ]; then
    echo "only-in-B  $name"; bad=$((bad + 1)); continue
  fi
  mask "$fa" > "$ma"
  mask "$fb" > "$mb"
  if cmp -s "$ma" "$mb"; then
    echo "identical  $name"; same=$((same + 1))
  else
    echo "differs    $name"; bad=$((bad + 1))
    if [ "${PLANDIFF_SHOW:-0}" = "1" ]; then
      diff "$ma" "$mb" | sed 's/^/    /' || true
    fi
  fi
done < <(join -t $'\t' -a 1 -a 2 -e '' -o 0,1.2,2.2 "$ta" "$tb")

echo "== $same identical, $bad differing or unpaired"
[ "$bad" -eq 0 ]
