#!/usr/bin/env bash
# Compare two PlanDump runs: the formatted plans of the same queries,
# with expression ids (`#<n>`), exchange ids (`plan_id=<n>`) and RDD ids
# (`RDD[<n>]`, named by scans over checkpointed data) normalized — all
# three are session counters, so they differ between any two runs of
# the same plan, and RDD ids also move with the number of jobs run
# earlier in the session. The source line in such an RDD's call site
# (`at localCheckpoint at TextDedup.scala:<n>`) is normalized too: it
# moves with any edit above that line. Lambda variable names
# (`lambda x_<n>`) are normalized too: Spark numbers them from one
# JVM-wide counter, so a lambda built by any earlier query or fixture
# renames every later one. Three more names differ between
# any two JVMs and are normalized as well: lambda class names
# (`Lambda$<n>/0x<addr>`), identity hashes in object strings
# (`[[D@<hex>`) and the write UUIDs in part-file names. So are fixture
# names: a fixture directory, whether under a per-JVM root
# (`<tmp>/graft_fixtures<n>/<tag>_<sf>`) or at the older fixed path
# (`/tmp/graft_<tag>_<hex>`), becomes `FIXTURE/<tag>`, and the bucketed
# fixture tables (`orders_bkt_<hex>`, `lineitem_bkt_<hex>`) lose their
# testdata-dir suffix. Files the queries read from the repository
# (`<checkout>/src/test/resources/...`) lose the checkout directory,
# so two checkouts of the same code compare equal. Prints a unified
# diff per changed query and exits non-zero on any difference,
# including a query dumped on one side only.
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
    sed -E -e 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/(lambda [a-z]+)_[0-9]+/\1_N/g; s/RDD\[[0-9]+\]/RDD[N]/g; s/\.scala:[0-9]+/.scala:N/g' \
      -e 's/Lambda\$[0-9]+\/0x[0-9a-f]+/Lambda$N/g; s/@[0-9a-f]{5,8}\b/@H/g; s/[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}/UUID/g' "$f" \
      | sed -E "s#[^][ ,()']*/graft_fixtures[0-9]*/([a-z_]+)_[0-9a-f]{8}#FIXTURE/\\1#g; s#[^][ ,()']*/graft_([a-z_]+)_[0-9a-f]+\\b#FIXTURE/\\1#g; s#\\b(orders|lineitem)_bkt_[0-9a-f]+\\b#\\1_bkt#g; s#[^][ ,()']*/src/test/resources/#CHECKOUT/src/test/resources/#g" \
      > "$TMP/$side/$query.txt"
  done
done
if diff -ru "$TMP/A" "$TMP/B"; then
  echo "ok: $(ls "$TMP/A" | wc -l) plans identical after id normalization"
else
  echo "FAIL: plans differ"
  exit 1
fi
