#!/usr/bin/env python3
"""The repository's benchmark: three workloads run against the program's
public entry points on local[4], from one JVM per run.

    python3 perfbench/run.py --workload <tpch|pipeline|copy> \
        --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. Builds the program from source (see
build.py), generates the inputs from the seed (see gen.py), measures for
--seconds seconds, checks the program's outputs, and prints one JSON line
last: the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. See README.md for the workloads, metrics and layer map.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# a run must end within 180 s after its build; the checks after the JVM
# take a few seconds
JVM_DEADLINE_S = 160
CPUS = 4
# input scale and copy-source shape, full runs and --smoke
SCALE = {"sf": 0.001, "copy_dirs": 36, "copy_files": 2, "copy_large": 3,
         "copy_large_mib": 8, "copy_bw_mbps": 4, "setups": 3, "warm": 1,
         "queries": 1000}
SMOKE = {"sf": 0.001, "copy_dirs": 33, "copy_files": 1, "copy_large": 1,
         "copy_large_mib": 1, "copy_bw_mbps": 1, "setups": 1, "warm": 0,
         "queries": 6}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(jar, harness_args, log_path, timeout, jvm_flags=()):
    cmd = ["java"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # -XX:-UsePerfData and the tmpdir keep the JVM's files in the checkout
    cmd += ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={harness_args['work']}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            # the repository's logging config: warnings to stderr
            f"-Dlog4j2.configurationFile={os.path.join(ROOT, 'conf', 'log4j2.properties')}",
            *jvm_flags, "-cp", build.classpath(jar), "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in harness_args.items()]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=harness_args["work"],
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def harness_args_for(workload, seed, seconds, trace, scale, run_dir, trace_dir):
    """Generates the inputs into run_dir; returns the harness arguments."""
    work = os.path.join(run_dir, "work")
    data = os.path.join(run_dir, "data")
    os.makedirs(work)
    gen.write(data, seed, scale["sf"])
    return {
        "workload": workload, "data": data, "work": work,
        "out": os.path.join(run_dir, "result.json"),
        "seconds": seconds, "trace": trace, "seed": seed, "cpus": CPUS,
        "setups": scale["setups"], "queries": scale["queries"],
        # tpch's warm pass writes the results the checks read, so it runs
        # even in smoke mode
        "warm": 1 if workload == "tpch" else scale["warm"],
        "spans": os.path.join(trace_dir, f"{workload}-{seed}.spans.json"),
        "pipeline_src": os.path.join(ROOT, "src", "main", "scala", "graft",
                                     "PipelineMain.scala"),
        **{k: v for k, v in scale.items() if k.startswith("copy_")}}


def prepare(build_dir):
    """Builds the jar and, once per jar, a class-data sharing archive of the
    classes a short run loads. The archive cuts each run's JVM cold start by
    3-8 s (first set-up 4.4-5.4 s with it, 7.5-12.7 s without, tpch on a
    4-vCPU VM), which a full benchmark session of 70 runs needs to stay
    within its time budget. Returns the jar and the JVM flags that use the
    archive; fails if the archive cannot be made."""
    jar = build.build(build_dir)
    archive = os.path.join(build_dir, "app.jsa")
    with open(jar + ".stamp") as f:
        stamp = f.read()
    stamp_file = archive + ".stamp"
    fresh = (os.path.isfile(archive) and os.path.isfile(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        run_dir = os.path.join(build_dir, "runs", f"archive-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        args = harness_args_for("copy", 1, 1, 0, SMOKE, run_dir,
                                os.path.join(run_dir, "work"))
        tmp = archive + f".tmp{os.getpid()}"
        log = os.path.join(build_dir, "archive.log")
        rc = run_jvm(jar, args, log, timeout=300,
                     jvm_flags=[f"-XX:ArchiveClassesAtExit={tmp}"])
        shutil.rmtree(run_dir, ignore_errors=True)
        if rc != 0 or not os.path.isfile(tmp):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"class-data sharing archive not made (exit {rc}); see {log}")
        os.replace(tmp, archive)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return jar, [f"-XX:SharedArchiveFile={archive}"]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["tpch", "pipeline", "copy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one set-up: a fast end-to-end test")
    ap.add_argument("--pin", action="store_true",
                    help="record this seed's pipeline summary in pins.json")
    a = ap.parse_args()
    scale = SMOKE if a.smoke else SCALE

    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    jar, jvm_flags = prepare(build_dir)
    t_build = time.time()

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    trace_dir = os.path.join(build_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    harness_args = harness_args_for(a.workload, a.seed, a.seconds, a.trace,
                                    scale, run_dir, trace_dir)
    data, out = harness_args["data"], harness_args["out"]
    t_gen = time.time()
    log = os.path.join(run_dir, "jvm.log")
    rc = run_jvm(jar, harness_args, log, jvm_flags=jvm_flags,
                 timeout=JVM_DEADLINE_S - (t_gen - t_build))
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        sys.stderr.write(f"\nbenchmark JVM failed (exit {rc})\n")
        sys.exit(3)
    with open(out) as f:
        res = json.load(f)
    t_jvm = time.time()

    verdict = checks.check(a.workload, res, data, a.seed, smoke=a.smoke)
    e2e, layers, detail = metrics.compute(a.workload, res, verdict)
    detail["run_phases_s"] = {"build": t_build - t_start, "gen": t_gen - t_build,
                              "jvm": t_jvm - t_gen, "checks": time.time() - t_jvm}
    detail.update(workload=a.workload, seed=a.seed, sf=scale["sf"],
                  pinned=verdict["pinned"], check_failures=verdict["failures"][:20])
    report = {"detail": detail, "end_to_end": e2e, "layers": layers}
    if a.trace:
        with open(harness_args["spans"]) as f:
            report["job_table"] = metrics.job_table(json.load(f))
    with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.report.json"), "w") as f:
        json.dump(report, f, indent=1)
    if a.pin and verdict["correct"]:
        checks.pin(a.workload, "smoke" if a.smoke else "full", a.seed, verdict["pins"])
    print(json.dumps({k: v for k, v in report.items() if k != "job_table"}))
    chosen = metrics.per_layer_selection(layers) if a.trace else e2e
    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": chosen}))
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
