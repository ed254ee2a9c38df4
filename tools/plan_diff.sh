#!/usr/bin/env bash
# Compare two PlanDump runs: the formatted plans of the same queries,
# with expression ids (`#<n>`), exchange ids (`plan_id=<n>`) and RDD ids
# (`RDD[<n>]`, named by scans over checkpointed data) normalized — all
# three are session counters, so they differ between any two runs of
# the same plan, and RDD ids also move with the number of jobs run
# earlier in the session. The source line in such an RDD's call site
# (`at localCheckpoint at TextDedup.scala:<n>`) is normalized too: it
# moves with any edit above that line. Prints a unified diff per
# changed query and exits non-zero on any difference, including a
# query dumped on one side only.
#
# Each directory holds one PlanDump run; files pair by query name, the
# file name minus its `_<suffix>.txt` (so the suffix has no `_`):
#   runMain graft.tools.PlanDump <dirA> before q1,q2   (parent)
#   runMain graft.tools.PlanDump <dirB> after q1,q2    (change)
#   tools/plan_diff.sh <dirA> <dirB>
set -euo pipefail
A="${1:?usage: tools/plan_diff.sh <dirA> <dirB>}"
B="${2:?usage: tools/plan_diff.sh <dirA> <dirB>}"
TMP="$(mktemp -d)"
trap 'rm -rf "$TMP"' EXIT
for side in A B; do
  mkdir -p "$TMP/$side"
  src="${!side}"
  for f in "$src"/*.txt; do
    [ -e "$f" ] || { echo "FAIL: no PlanDump files in $src"; exit 1; }
    query="$(basename "$f" .txt)"; query="${query%_*}"
    [ ! -e "$TMP/$side/$query.txt" ] || { echo "FAIL: $src holds two dumps of $query"; exit 1; }
    sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/RDD\[[0-9]+\]/RDD[N]/g; s/\.scala:[0-9]+/.scala:N/g' "$f" > "$TMP/$side/$query.txt"
  done
done
if diff -ru "$TMP/A" "$TMP/B"; then
  echo "ok: $(ls "$TMP/A" | wc -l) plans identical after id normalization"
else
  echo "FAIL: plans differ"
  exit 1
fi
