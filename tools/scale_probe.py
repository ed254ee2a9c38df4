#!/usr/bin/env python3
"""Scale probe: run the bench suite at two scale factors and flag
super-linear queries.

Wall time on local[32] can hide an O(n^2) candidate blowup at a single
SF; the RATIO between SFs cannot. Data grows 10x from sf0.01 to sf0.1,
so a healthy (linear or better) query should grow <= ~10x in runtime;
with fixed per-job overhead most grow far less. Anything above
--threshold (default 15x) is flagged as a hidden-super-linearity
candidate for a plan audit.

Interpreting flags: a flag is a CANDIDATE, not a verdict — sub-second
small-SF times make ratios noisy (fixed overhead dominates the
denominator), so the report marks queries whose small-SF time is under
--floor (default 0.5 s) as low-confidence. Audit flagged queries with
.explain("formatted") before touching code.

Usage: python3 tools/scale_probe.py [--lo sfdir] [--hi sfdir]
         [--threshold 15] [--floor 0.5] [--out SCALE_PROBE.md]
Reuses an existing bench json via --lo-json/--hi-json (skips the run).
"""
import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(sf_dir: str, out_json: str, cpus: str = "32") -> dict:
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_BENCH_OUT=out_json)
    print(f"[scale-probe] bench at {sf_dir} ...", flush=True)
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                       cwd=REPO, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode()[-4000:])
        raise SystemExit(f"bench failed at {sf_dir} (rc {r.returncode})")
    # Bench's per-run copy: out_json itself is rewritten only by a run at
    # the reference core count (SPARK_GRAFT_REF_CPUS)
    root, ext = os.path.splitext(out_json)
    with open(f"{root}_c{cpus}{ext}") as f:
        return json.load(f)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--lo", default="/root/testdata/sf0.01")
    p.add_argument("--hi", default="/root/testdata/sf0.1")
    p.add_argument("--lo-json")
    p.add_argument("--hi-json")
    p.add_argument("--threshold", type=float, default=15.0)
    p.add_argument("--floor", type=float, default=0.5,
                   help="small-SF seconds below which a ratio is low-confidence")
    p.add_argument("--cpus", default="32")
    p.add_argument("--out", default=os.path.join(REPO, "SCALE_PROBE.md"))
    a = p.parse_args()

    lo = (json.load(open(a.lo_json)) if a.lo_json
          else run_bench(a.lo, "/tmp/scale_probe_lo.json", a.cpus))
    hi = (json.load(open(a.hi_json)) if a.hi_json
          else run_bench(a.hi, "/tmp/scale_probe_hi.json", a.cpus))

    common = sorted(set(lo["queries"]) & set(hi["queries"]))
    rows = []
    for q in common:
        t_lo, t_hi = lo["queries"][q], hi["queries"][q]
        ratio = hi["queries"][q] / max(t_lo, 1e-9)
        rows.append((q, t_lo, t_hi, ratio))
    rows.sort(key=lambda r: -r[3])

    flagged = [r for r in rows if r[3] > a.threshold]
    with open(a.out, "w") as f:
        f.write("# SCALE_PROBE — per-query runtime ratio "
                f"{os.path.basename(a.hi)} / {os.path.basename(a.lo)}\n\n")
        f.write(f"Data scale ratio: 10x. Flag threshold: {a.threshold}x. "
                f"Queries: {len(common)} "
                f"(lo errors: {lo.get('errors')}, hi errors: {hi.get('errors')}).\n\n")
        f.write(f"## Flagged (> {a.threshold}x — super-linear candidates)\n\n")
        if not flagged:
            f.write("None.\n\n")
        else:
            f.write("| query | t(lo) s | t(hi) s | ratio | confidence |\n|---|---|---|---|---|\n")
            for q, t_lo, t_hi, ratio in flagged:
                conf = "LOW (lo under floor)" if t_lo < a.floor else "high"
                f.write(f"| {q} | {t_lo:.3f} | {t_hi:.3f} | {ratio:.1f}x | {conf} |\n")
            f.write("\n")
        f.write("## Full ranking (worst ratio first, top 40)\n\n")
        f.write("| query | t(lo) s | t(hi) s | ratio |\n|---|---|---|---|\n")
        for q, t_lo, t_hi, ratio in rows[:40]:
            f.write(f"| {q} | {t_lo:.3f} | {t_hi:.3f} | {ratio:.1f}x |\n")
    print(f"[scale-probe] {len(flagged)} flagged of {len(common)}; report at {a.out}")


if __name__ == "__main__":
    main()
