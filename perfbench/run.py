#!/usr/bin/env python3
"""Serving benchmark through QueryServer.

One run:
  python3 perfbench/run.py --workload serve_small --seed 1 --seconds 20 --trace 0

builds the program and the benchmark from source (perfbench/build.py),
starts QueryService + QueryServer in one JVM, drives it over loopback
TCP and prints a metric table, then as its last line one JSON object
{"correct", "attempted", "failed", "metrics"}. `--trace 1` prints the
per-layer metrics instead of the end-to-end ones.

Steadiness mode:
  python3 perfbench/run.py --steady 10 [--seconds N]

repeats each workload of BENCHMARK.json with seeds 1..N and prints, per end-to-end metric,
the median, the quartiles and the spread (interquartile range over the
median) against the metric's bound in BENCHMARK.json.

Self-test of the benchmark's own logic:
  python3 perfbench/run.py --selftest

Everything a run writes lives under `.bench_run/` at the root of the
checkout, cleared before each run; builds live under `.bench_build/`.
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORK = ROOT / ".bench_run"
RUN_TIMEOUT_S = 170

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for opt in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_env(work):
    """Keep every scratch file of the JVM and Spark inside `work`."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_SCALA_VERSION"] = "2.13"
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    return env, [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dspark.hadoop.hadoop.tmp.dir={work / 'hadoop'}",
        f"-Dderby.system.home={work / 'derby'}",
    ]


def fresh_work():
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True)


def java(classpath, main, args, timeout):
    env, props = jvm_env(WORK)
    cmd = ["java"] + JVM_OPTS + props + ["-cp", classpath, main] + args
    return subprocess.run(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=timeout)


def run_once(classpath, workload, seed, seconds, trace, echo=True):
    """One measured run; returns the result object or raises."""
    fresh_work()
    result_file = WORK / "result.json"
    p = java(classpath, "graft.perfbench.Main",
             ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", str(WORK), "--result", str(result_file)],
             RUN_TIMEOUT_S)
    if echo:
        sys.stdout.write(p.stdout)
    if p.returncode != 0 or not result_file.is_file():
        sys.stderr.write(p.stderr[-6000:])
        raise RuntimeError(f"benchmark JVM exited with {p.returncode}")
    return json.loads(result_file.read_text())


def steady(classpath, reps, seconds):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = seconds or spec["run_seconds"]
    worst = 0.0
    for wl in (w["name"] for w in spec["workloads"]):
        values = {}
        for seed in range(1, reps + 1):
            r = run_once(classpath, wl, seed, seconds, 0, echo=False)
            print(f"{wl} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n{wl}: {reps} runs of {seconds} s, seeds 1..{reps}")
        print(f"{'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} "
              f"{'bound':>6s}  within bound/3")
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            ok = spread <= bounds.get(k, 0) / 3
            worst = max(worst, spread / bounds[k])
            print(f"{k:16s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f} "
                  f"{bounds.get(k, 0):6.2f}  {'yes' if ok else 'NO'}")
        print(flush=True)
    print(f"largest spread/bound: {worst:.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, metavar="N")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(e, file=sys.stderr)
        return 2
    if a.selftest:
        fresh_work()
        p = java(classpath, "graft.perfbench.SelfTest", [str(WORK)], RUN_TIMEOUT_S)
        sys.stdout.write(p.stdout)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-6000:])
        return p.returncode
    if a.steady:
        steady(classpath, a.steady, a.seconds)
        return 0
    if not a.workload or a.seconds is None:
        ap.error("--workload and --seconds are required")
    try:
        result = run_once(classpath, a.workload, a.seed, a.seconds, a.trace)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print(e, file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
