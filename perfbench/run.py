#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the harness from
source on first use (sbt, offline; output under .bench_build/), then runs
one workload in one JVM on local[4] and passes its output through. The
last stdout line is the JSON result. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("migrate", "release_day0", "release_incr")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main" / "scala", BENCH / "src", BENCH / "build.sbt",
                 BENCH / "project" / "build.properties"):
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    want = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    BUILD.mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-J-Xmx3g",
            "-J-XX:-UsePerfData", "--batch", "-Dsbt.log.noformat=true"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env = dict(os.environ, COURSIER_MODE="offline")
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", *opts, "compile", "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840,
                           stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        fail("build failed", 3)
    lines = [l for l in r.stdout.splitlines() if ".bench_build" in l and "/" in l
             and not l.startswith("[")]
    if not lines:
        sys.stderr.write(r.stdout[-3000:])
        fail("could not read the classpath from the build", 3)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(want)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: the program sources are missing")
    cp = build()
    tmp = ROOT / ".bench_work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--scale", a.scale, "--corrupt", str(a.corrupt)]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         stdin=subprocess.DEVNULL)
    try:
        out, _ = p.communicate(timeout=175)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run exceeded 175 s", 4)
    lines = out.splitlines()
    result = lines[-1] if lines else ""
    if p.returncode != 0 or not result.startswith("{"):
        sys.stdout.write("\n".join(lines[:-1] if result.startswith("{") else lines) + "\n")
        fail(f"run failed (exit {p.returncode})", 5)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
