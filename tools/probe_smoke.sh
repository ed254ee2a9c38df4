#!/usr/bin/env bash
# Scale-probe smoke run: every `graft.tools.ScaleProbe` family at 1×/2×
# on a small base dir, reports and replicas in a temp dir, then each
# report's table header rows compared with the committed
# <FAMILY>_SCALE.md. The probes run rarely and drift between uses;
# this keeps the merged main runnable and its report layout stable.
#
# Header rows name scales (`10× s`, `@50×`), and the committed reports
# were measured at three scales, so both sides are normalized before
# the compare: every `<n>×` becomes `N×`, and a run of equal adjacent
# cells collapses to one (`| N× s | N× s | N× s |` → `| N× s |`).
#
# Usage: tools/probe_smoke.sh <sfDir>   (the close-out passes sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:?usage: tools/probe_smoke.sh <sfDir>}"
FAMILIES=(fuzzy text mix ann hybrid)
TMP="$(mktemp -d)"
runs=()
for fam in "${FAMILIES[@]}"; do runs+=("runMain graft.tools.ScaleProbe $fam 1,2"); done
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_SCALE_OUT="$TMP/data" \
SPARK_GRAFT_SCALE_REPORT_DIR="$TMP" \
  sbt -batch "${runs[@]}" > "$TMP/smoke.log" 2>&1 \
  || { tail -30 "$TMP/smoke.log"; echo "FAIL: ScaleProbe smoke run (log: $TMP/smoke.log)"; exit 1; }
for fam in "${FAMILIES[@]}"; do
  python3 - "$TMP/${fam^^}_SCALE.md" "${fam^^}_SCALE.md" <<'PYEOF' || exit 1
import re, sys
def headers(path):
    lines = open(path, encoding="utf-8").read().splitlines()
    out = []
    for row, nxt in zip(lines, lines[1:]):
        if row.startswith("|") and nxt.startswith("|---"):
            cells = [re.sub(r"\d+×", "N×", c.strip()) for c in row.strip("|").split("|")]
            out.append("| " + " | ".join(c for i, c in enumerate(cells)
                                         if i == 0 or c != cells[i - 1]) + " |")
    return out
got, want = headers(sys.argv[1]), headers(sys.argv[2])
if got != want:
    print(f"FAIL: {sys.argv[2]} table headers drifted\n  smoke:     {got}\n  committed: {want}")
    sys.exit(1)
print(f"ok: {sys.argv[2]} ({len(got)} table headers match)")
PYEOF
done
rm -rf "$TMP"
