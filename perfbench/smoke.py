#!/usr/bin/env python3
"""Fast end-to-end test of the benchmark itself.

Runs every workload named in BENCHMARK.json once, in parallel, traced, at
--smoke scale (sf0.001 tables, a tiny copy tree, one set-up, no warm pass
where the checks do not need one), and fails unless each run exits 0,
passes its output checks and prints every metric BENCHMARK.json names, in
the units it names. Offline: it needs only the JDK, the Spark jars and the
Python packages the benchmark itself uses.

    python3 perfbench/smoke.py
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    if want[0] != metrics.END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    if want[1] != metrics.PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    t0 = time.time()
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    run.prepare(build_dir)  # once, before the parallel runs
    procs = {
        w["name"]: subprocess.Popen(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
             "--seed", "7", "--seconds", "1", "--trace", "1", "--smoke"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for w in bench["workloads"]}
    for name, p in procs.items():
        out, err = p.communicate(timeout=600)
        lines = out.strip().splitlines()
        if p.returncode != 0 or not lines:
            problems.append(f"{name}: exit {p.returncode}\n{err[-3000:]}")
            continue
        last = json.loads(lines[-1])
        if not last["correct"] or last["failed"]:
            problems.append(f"{name}: checks failed: {lines[-2][:2000]}")
        got = {k: v["unit"] for k, v in last["metrics"].items()}
        if got != want[1]:
            problems.append(f"{name}: per-layer metrics differ from BENCHMARK.json")
        e2e = json.loads(lines[-2])["end_to_end"]
        if {k: v["unit"] for k, v in e2e.items()} != want[0]:
            problems.append(f"{name}: end-to-end metrics differ from BENCHMARK.json")
        print(f"{name}: ok={not problems} {time.time() - t0:.0f}s", flush=True)
    if problems:
        print("\n".join(problems), file=sys.stderr)
        sys.exit(1)
    print(f"smoke passed in {time.time() - t0:.0f}s")


if __name__ == "__main__":
    main()
