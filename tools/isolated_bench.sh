#!/usr/bin/env bash
# Isolated-run validation for the heaviest bench queries: each query
# gets a FRESH JVM (java -cp against the compiled classes + the Spark
# jars — no sbt, no shared-session litter), so the number is the
# query's true cost rather than whatever GC/broadcast debris the
# in-suite run billed onto it. The in-suite Bench minima were measured
# reading up to 2x a query's isolated time (round-11 audit); this
# script is the committed evidence for how far off this round's
# in-suite numbers are.
#
# Usage: tools/isolated_bench.sh [sfDir] [outJson]
# Writes one JSON object {query: seconds} plus a markdown table to
# stderr-free stdout artifacts: ISOLATED_BENCH_r*.json is committed
# beside BENCH_r*.json by the round workflow.
set -u
SF_DIR="${1:-/root/testdata/sf0.1}"
OUT="${2:-isolated_bench.json}"
CPUS="${SPARK_GRAFT_CPUS:-32}"
CLASSES="$(dirname "$0")/../target/scala-2.13/classes"
QUERIES=(q_fuzzy_link dedup_cluster_rep q_lm_buckets_lang q_corpus_clean
         text_lm_lang q_sim_link q_profile dedup_clusters q_sql_dedup
         q_hybrid_indexed
         q_except_all dedup_minhash q_outliers q_funnel_latency
         q_range_join q_contam_report
         text_lm_score q_agg_having)
# SPARK_GRAFT_ISO_ONLY=a,b restricts the run (re-measuring one mover
# after a fix shouldn't cost a full 16-JVM sweep)
if [ -n "${SPARK_GRAFT_ISO_ONLY:-}" ]; then
  IFS=',' read -r -a QUERIES <<< "$SPARK_GRAFT_ISO_ONLY"
fi

# SPARK_GRAFT_ISO_MOVERS=<bench_out.json>: AUTO-ADJUDICATION mode (the
# r16 verdict's rule — no mover ships unadjudicated). The query list
# becomes every in-suite query reading >2.5x its committed
# bench_ref.json entry NORMALIZED by the run's own control median (r17
# verdict task 2: a query is a real mover only if it moved MORE than
# the box did — refs are all-time-best mins, so on a persistently
# slower host every query reads high and raw ratios would adjudicate
# the whole suite forever). REPS defaults to 5 (min-of-2/3 fresh-JVM
# provably overreads codegen-heavy queries ~2.8x from first-use JIT —
# ann_lsh read 4.99s at min-of-3, 1.77s at 6 in-JVM reps). An empty
# mover set writes an empty-but-valid JSON and exits 0. A missing or
# malformed bench_ref.json / run json FAILS LOUD — a silent empty
# mover list would disarm the adjudication step round_closeout.sh
# depends on.
MOVER_RATIO="${SPARK_GRAFT_ISO_RATIO:-2.5}"
ISO_NORM="1.0"
ISO_CONTROLS=()
if [ -n "${SPARK_GRAFT_ISO_MOVERS:-}" ]; then
  REF="$(dirname "$0")/../bench_ref.json"
  [ -f "$REF" ] || { echo "FATAL: $REF missing — mover adjudication needs the committed reference" >&2; exit 1; }
  [ -f "$SPARK_GRAFT_ISO_MOVERS" ] || { echo "FATAL: run json $SPARK_GRAFT_ISO_MOVERS missing" >&2; exit 1; }
  MOVERS_TMP="$(mktemp)"
  if ! python3 - "$SPARK_GRAFT_ISO_MOVERS" "$REF" "$MOVER_RATIO" > "$MOVERS_TMP" <<'PYEOF'
import json, sys
rec = json.load(open(sys.argv[1]))
run = rec["queries"]
ref = json.load(open(sys.argv[2]))["queries"]
ratio = float(sys.argv[3])
norm = max(1.0, float(rec.get("controls_median", 1.0)))
print(norm)
for q, t in sorted(run.items()):
    if q in ref and ref[q] > 0 and t > ref[q] * ratio * norm:
        print(q)
PYEOF
  then
    echo "FATAL: mover selection failed (malformed bench_ref.json or run json)" >&2
    exit 1
  fi
  ISO_NORM="$(head -1 "$MOVERS_TMP")"
  mapfile -t QUERIES < <(tail -n +2 "$MOVERS_TMP")
  SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-5}"
  echo "[isolated] mover mode: ${#QUERIES[@]} queries >${MOVER_RATIO}x ref x control median ${ISO_NORM} (REPS=$SPARK_GRAFT_REPS)" >&2
  if [ "${#QUERIES[@]}" -eq 0 ]; then
    printf '{"sf": "%s", "mode": "fresh-jvm-per-query", "norm": %s, "movers": [], "queries": {}}\n' "$SF_DIR" "$ISO_NORM" > "$OUT"
    echo "wrote $OUT (no movers past ${MOVER_RATIO}x normalized)"
    exit 0
  fi
  # Fresh-JVM box health for the VERDICT: the in-suite control median
  # (ISO_NORM) is the right scale for SELECTION above — numerator and
  # median come from the same in-suite run — but it is the WRONG scale
  # for the fresh-JVM verdict ratios: the adjudication runs later, in
  # different processes, possibly on a box that has recovered (a real
  # regression would be normalized away by the stale median) or slowed
  # further (noise would survive it). So the run times three untouched
  # pure-Catalyst controls in ITS OWN fresh JVMs and the verdict
  # normalizes by THAT median (norm_fresh in the output; movers keep
  # their raw vs_ref too).
  ISO_CONTROLS=(q_agg_groupby q_tpch_q1 q_window_running)
  for c in "${ISO_CONTROLS[@]}"; do
    dup=0; for q in "${QUERIES[@]}"; do [ "$q" = "$c" ] && dup=1; done
    [ "$dup" -eq 0 ] && QUERIES+=("$c")
  done
fi

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

declare -A SEC
for q in "${QUERIES[@]}"; do
  tmp="$(mktemp -d)/bench.json"
  # fresh JVM per query; no BENCH_REF -> the noise-retry path is inert.
  # REPS defaults to 2 (min-of-2, comparable with the in-suite
  # discipline); override with SPARK_GRAFT_REPS=5 when adjudicating a
  # mover — codegen-heavy queries overread ~2x at min-of-2 from
  # first-use JIT on a fresh JVM (the r15 text_lm_score finding)
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_GRAFT_ONLY="$q" SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-2}" \
  SPARK_GRAFT_BENCH_OUT="$tmp" SPARK_GRAFT_BENCH_REF=/dev/null \
  SPARK_SCALA_VERSION=2.13 \
  java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-24g}" \
    -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -cp "$CLASSES:/opt/spark/jars/*" graft.Bench >/dev/null 2>&1
  # failure fallback must stay a valid Python expression — a bare NaN
  # token would NameError the final heredoc and discard every result
  # the per-run copy: Bench rewrites $tmp only at the reference core count
  run="${tmp%.json}_c$CPUS.json"
  s=$(python3 -c "import json,sys;print(json.load(open('$run'))['queries'].get('$q','float(\"nan\")'))" 2>/dev/null || echo "float('nan')")
  SEC[$q]="$s"
  echo "[isolated] $q ${s}s" >&2
done

python3 - "$OUT" <<EOF
import json, sys, os
sec = { $(for q in "${QUERIES[@]}"; do printf '"%s": %s, ' "$q" "${SEC[$q]:-float('nan')}"; done) }
controls = [ $(for c in ${ISO_CONTROLS[@]+"${ISO_CONTROLS[@]}"}; do printf '"%s", ' "$c"; done) ]
rec = {"sf": "$SF_DIR", "mode": "fresh-jvm-per-query",
       "reps": int("${SPARK_GRAFT_REPS:-2}"), "norm": float("$ISO_NORM"),
       "queries": sec}
ref_path = os.path.join(os.path.dirname("$0") or ".", "..", "bench_ref.json")
try:
    ref = json.load(open(ref_path))["queries"]
    rec["vs_ref"] = {q: round(sec[q] / ref[q], 2)
                     for q in sec if q in ref and ref[q] > 0 and sec[q] == sec[q]}
    # the adjudication VERDICT normalizes by this run's OWN fresh-JVM
    # control median — how much the query moved beyond the box as
    # measured in the same processes — never by the stale in-suite
    # median ("norm", kept for the selection record). A missing or
    # failed control makes the verdict unnormalizable: fail loud, the
    # round_closeout step must not ship a silently-raw verdict.
    if controls:
        ratios = sorted(sec[c] / ref[c] for c in controls
                        if c in ref and ref[c] > 0 and sec.get(c, float("nan")) == sec.get(c))
        if len(ratios) != len(controls):
            sys.exit("FATAL: fresh-JVM control timing or its bench_ref entry "
                     "missing — cannot normalize the mover verdict")
        rec["controls"] = {c: sec[c] for c in controls}
        rec["norm_fresh"] = round(ratios[len(ratios) // 2], 3)
        norm = max(1.0, rec["norm_fresh"])
    else:
        norm = rec["norm"]
    rec["vs_ref_normalized"] = {q: round(r / norm, 2)
                                for q, r in rec["vs_ref"].items()}
except Exception:
    pass
json.dump(rec, open(sys.argv[1], "w"), indent=1)
print("wrote", sys.argv[1])
EOF
