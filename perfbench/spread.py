#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload migrate --seeds 1-10 [--trace 0]

Run from the repository root. Runs the benchmark once per seed, then prints
for each metric the median, the quartiles (statistics.quantiles, n=4) and
the interquartile distance as a share of the median, next to the metric's
bound from BENCHMARK.json. Raw results go to .bench_work/spread-*.jsonl.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,9")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    log = ROOT / ".bench_work" / f"spread-{a.workload}-t{a.trace}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values = {}
    for s in seeds(a.seeds):
        cmd = [*SPEC["command"], "--workload", a.workload, "--seed", str(s),
               "--seconds", str(SPEC["run_seconds"]), "--trace", str(a.trace)]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        last = r.stdout.splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: run failed (exit {r.returncode})", file=sys.stderr)
            continue
        res = json.loads(last)
        units = [l for l in r.stdout.splitlines() if " units=" in l]
        with log.open("a") as f:
            f.write(json.dumps({"seed": s, "summary": units[0] if units else "", **res}) + "\n")
        print(f"seed {s}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"]}
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if share < b / 3 else "  WIDE (>= bound/3)")
        print(f"{k:28s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={share:.3f}"
              + ("" if b is None else f" bound={b}") + flag)


if __name__ == "__main__":
    main()
