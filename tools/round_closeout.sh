#!/usr/bin/env bash
# The committed round close-out sequence (r15 prose → r17 executable):
#
#   1. correctness gate at sf0.001 AND sf0.01 (Verify + DuckDB compare)
#   2. full ScalaTest suite
#   3. scale-probe smoke (tools/probe_smoke.sh: every ScaleProbe family
#      at 1×/2× on sf0.01, report table headers vs the committed
#      *_SCALE.md)
#   4. ClusterCheck (local[8] vs local-cluster hash parity)
#   5. bench at sf0.1 (at the reference core count: only such a run
#      rewrites bench_out.json) — with the box-health controls: a run marked
#      inflated:true (control median >1.3x the committed refs) is
#      REPORTED loud, and the rest of the close-out switches to
#      control-median NORMALIZATION (r17 verdict task 2: refs are
#      all-time-best mins, so a persistently slower host would
#      otherwise mark every run inflated and deadlock the close-out
#      forever)
#   6. min-merge into bench_ref.json (existing keys raw — min only
#      lowers; NEW keys from an inflated run enter divided by the
#      control median so a sick box can't loosen their gates)
#   7. AUTO-ADJUDICATE every mover (>2.5x its committed ref x the
#      run's control median) with fresh JVMs at REPS=5 — no mover
#      ships unadjudicated; the verdict ratio is vs_ref_normalized,
#      normalized by the ADJUDICATION RUN'S OWN fresh-JVM control
#      median (norm_fresh — the in-suite median is stale by the time
#      the fresh JVMs run; isolated_bench times three untouched
#      controls in the same regime and fails loud without them)
#
# Usage: tools/round_closeout.sh [roundN]   (roundN names the copied
# artifacts, e.g. 17 -> BENCH_r17.json / ISOLATED_BENCH_r17.json)
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:-}"
CPUS="${SPARK_GRAFT_CPUS:-32}"
[ "$CPUS" = "${SPARK_GRAFT_REF_CPUS:-32}" ] || {
  echo "FAIL: the close-out benches at the reference core count" \
    "(SPARK_GRAFT_REF_CPUS, default 32), not $CPUS"; exit 1; }

echo "== [1/7] correctness gate (sf0.001, sf0.01)"
for sf in 0.001 0.01; do
  out="/tmp/graft_closeout_verify_$sf"
  rm -rf "$out"
  SPARK_GRAFT_CPUS=8 sbt -batch "runMain graft.Verify /root/testdata/sf$sf $out" \
    > "/tmp/closeout_verify_$sf.log" 2>&1
  python3 tools/check_oracle.py "$out" "/root/testdata/sf$sf" | tail -1
  python3 tools/check_oracle.py "$out" "/root/testdata/sf$sf" | tail -1 \
    | grep -q " 0 fail" || { echo "FAIL: oracle mismatch at sf$sf"; exit 1; }
done

echo "== [2/7] sbt test"
sbt -batch test > /tmp/closeout_sbt_test.log 2>&1 \
  || { tail -30 /tmp/closeout_sbt_test.log; echo "FAIL: sbt test"; exit 1; }
grep -E "Tests: succeeded" /tmp/closeout_sbt_test.log | tail -1

echo "== [3/7] scale-probe smoke"
tools/probe_smoke.sh /root/testdata/sf0.01

echo "== [4/7] ClusterCheck"
sbt -batch "runMain graft.ClusterCheck" > /tmp/closeout_cluster.log 2>&1 \
  || { tail -20 /tmp/closeout_cluster.log; echo "FAIL: ClusterCheck"; exit 1; }
tail -2 cluster_check.json 2>/dev/null || true

echo "== [5/7] bench at sf0.1 (fresh JVM, box-health controls)"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
SPARK_GRAFT_BENCH_OUT=bench_out.json SPARK_SCALA_VERSION=2.13 \
java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-24g}" -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" graft.Bench \
  > /tmp/closeout_bench.log 2>&1 || { tail -20 /tmp/closeout_bench.log; exit 1; }
tail -1 bench_out.json
if python3 -c "import json,sys; sys.exit(0 if json.load(open('bench_out.json')).get('inflated') else 1)"; then
  CM=$(python3 -c "import json;print(json.load(open('bench_out.json')).get('controls_median'))")
  echo "NOTE: bench run is inflated (control median ${CM}x refs) — box"
  echo "health, not plans. Continuing with control-median normalization:"
  echo "mover selection and adjudication divide by ${CM}; new-query refs"
  echo "enter divided by ${CM}. Re-run in a quieter window for a raw-clean"
  echo "number if one is needed."
fi
if [ -n "$ROUND" ]; then cp bench_out.json "BENCH_r$ROUND.json"; fi

echo "== [6/7] min-merge into bench_ref.json"
python3 tools/merge_bench_ref.py bench_out.json

echo "== [7/7] mover auto-adjudication (fresh JVM, REPS=5)"
SPARK_GRAFT_ISO_MOVERS=bench_out.json SPARK_GRAFT_REPS=5 \
  tools/isolated_bench.sh /root/testdata/sf0.1 isolated_bench.json
if [ -n "$ROUND" ]; then cp isolated_bench.json "ISOLATED_BENCH_r$ROUND.json"; fi
# fold the adjudicated fresh-JVM minima into the reference too: an
# adjudication that beats the committed min IS the better-known number
python3 - <<'PYEOF'
import json
iso = json.load(open("isolated_bench.json"))
# NEVER fold the box-health controls back into bench_ref: they are in
# the isolated record only to normalize the verdict (norm_fresh), and
# fresh-JVM control minima can undercut anything an in-suite run can
# reach — min-merging them would ratchet the controls' refs down until
# every future in-suite run reads inflated, re-deadlocking the gate
# this round un-deadlocked.
ctl = set(iso.get("controls", {}))
qs = {k: v for k, v in iso.get("queries", {}).items() if v == v and k not in ctl}
if qs:
    rec = {"metric": "total", "value": round(sum(qs.values()), 3),
           "unit": "sec", "queries": qs, "sf": iso["sf"]}
    json.dump(rec, open("/tmp/iso_as_run.json", "w"))
    import subprocess
    subprocess.run(["python3", "tools/merge_bench_ref.py", "/tmp/iso_as_run.json"],
                   check=True)
else:
    print("no movers to fold")
PYEOF
echo "close-out complete"
