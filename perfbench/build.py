#!/usr/bin/env python3
"""Build file of the serving benchmark: compiles the program's Scala
sources and the benchmark's own sources with the Scala compiler that
ships among the Spark jars, into `.bench_build/perfbench` at the root of
the checkout. A build is skipped when the sources are unchanged.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the program's own build.sbt names as `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, files, out):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    tmp = out.parent / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}")


def build():
    """Compile what changed; return the runtime classpath."""
    prog = sources(PROGRAM_SRC) if PROGRAM_SRC.is_dir() else []
    if not prog:
        raise BuildError(f"no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    bench = sources(BENCH_SRC)
    jars = spark_jars()
    prog_out, bench_out = OUT / "program", OUT / "bench"
    prog_stamp, bench_stamp = OUT / "program.stamp", OUT / "bench.stamp"
    prog_digest = digest(prog)
    bench_digest = digest(prog + bench)
    if not prog_stamp.is_file() or prog_stamp.read_text() != prog_digest:
        for stamp in (prog_stamp, bench_stamp):
            stamp.unlink(missing_ok=True)
        subprocess.run(["rm", "-rf", str(prog_out), str(bench_out)], check=True)
        scalac(jars, f"{jars}/*", prog, prog_out)
        prog_stamp.write_text(prog_digest)
    if not bench_stamp.is_file() or bench_stamp.read_text() != bench_digest:
        subprocess.run(["rm", "-rf", str(bench_out)], check=True)
        scalac(jars, f"{prog_out}:{jars}/*", bench, bench_out)
        bench_stamp.write_text(bench_digest)
    cp = [str(bench_out), str(prog_out)]
    if PROGRAM_RES.is_dir():
        cp.append(str(PROGRAM_RES))
    return ":".join(cp + [f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
