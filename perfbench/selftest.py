#!/usr/bin/env python3
"""Self-test of the benchmark at smoke scale (~6 min on 4 cores).

    python3 perfbench/selftest.py

Run from the repository root. Checks that
  * every workload prints all end-to-end metrics of BENCHMARK.json (and the
    eight-line human summary), with 0 failures, in an untraced run;
  * a traced run prints every per-layer metric of BENCHMARK.json;
  * a deliberately corrupted output is counted as a failed operation;
  * a directory holding only BENCHMARK.json and perfbench/ makes the command
    exit non-zero without printing a result.
"""
import json
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SUMMARY = ("setup_s", "wall_s", "rows_per_s", "peak_rss_mb", "batch_s",
           "artifact_s", "forget_s", "failed_frac")
problems = []


def run(workload, trace=0, corrupt=0, cwd=ROOT):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "smoke", "--corrupt", str(corrupt)]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = r.stdout.splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return r.returncode, lines, result


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        problems.append(msg)


def expect_metrics(result, spec_key, label):
    want = {m["name"]: m["unit"] for m in SPEC[spec_key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == want, f"{label}: metrics match BENCHMARK.json {spec_key}"
          + ("" if got == want else f" (missing {sorted(set(want) - set(got))},"
             f" extra {sorted(set(got) - set(want))})"))


def main():
    for w in ("migrate", "release_day0", "release_incr"):
        rc, lines, res = run(w)
        check(rc == 0 and res is not None, f"{w}: untraced run prints a result")
        if res is None:
            continue
        check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
              f"{w}: all outputs correct")
        expect_metrics(res, "end_to_end", w)
        check(all(v["value"] > 0 for v in res["metrics"].values()),
              f"{w}: every end-to-end value is positive")
        printed = {l.split()[1] for l in lines if l.startswith("[perfbench] ") and
                   len(l.split()) >= 3}
        check(set(SUMMARY) <= printed, f"{w}: summary prints all eight metrics")

    rc, lines, res = run("migrate", trace=1)
    check(rc == 0 and res is not None, "migrate: traced run prints a result")
    if res is not None:
        expect_metrics(res, "per_layer", "migrate traced")

    rc, lines, res = run("migrate", corrupt=1)
    check(rc == 0 and res is not None and res["failed"] >= 1 and not res["correct"],
          "migrate: a corrupted output counts as a failure")
    frac = [l for l in lines if l.startswith("[perfbench] failed_frac")]
    check(bool(frac) and float(frac[0].split()[2]) > 0, "migrate: failed_frac > 0")

    bare = ROOT / ".bench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench")
    rc, lines, res = run("migrate", cwd=bare)
    check(rc != 0 and res is None, "bare directory: non-zero exit, no result")
    shutil.rmtree(bare, ignore_errors=True)

    print("SELFTEST " + ("PASSED" if not problems else f"FAILED ({len(problems)})"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
