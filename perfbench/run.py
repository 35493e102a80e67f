#!/usr/bin/env python3
"""graft benchmark: run one seeded workload, check its outputs, report.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source on first use (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the engine in
one fresh JVM (perfbench/scala, graft.perfbench.Harness), checks every job's
output (perfbench/checks.py) and prints each metric with its unit, sample
count and spread, then one JSON object as the last line of standard output:
end-to-end metrics untraced, per-layer metrics with --trace 1.

Build output, inputs and run scratch live under $CARGO_TARGET_DIR (default
.bench_build) inside the checkout; each run's scratch is removed at exit,
and a traced run's spans are kept in traces/<workload>-<seed>.json there.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# workload -> input generator
WORKLOADS = {
    "movielens_apps": "movielens",
    "docs_events": "fixture",
    "docs_pipeline": "fixture",
    "events_stream": "fixture",
    "graph_supersteps": "copurchase",
    "movielens_son1": "movielens",
    "movielens_son2": "movielens",
    "deadline_probe": None,
}
RUN_LIMIT_S = 175
KEEP_INPUTS = 6
# fresh JVMs whose set-up (launch until a first job has run) is sampled:
# set-up-only processes, then the engine process's own set-up
SETUP_SAMPLES = 2

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """The tier-1 SPARK_DRIVER_MEM rule: half the host's memory, 2-8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def prune_inputs(root):
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                  key=os.path.getmtime)
    for d in dirs[:-KEEP_INPUTS]:
        shutil.rmtree(d, ignore_errors=True)


def run_engine(classes, workload, input_dir, out_dir, seconds, trace, limit):
    os.makedirs(os.path.join(out_dir, "tmp"))
    if limit <= 0:
        sys.exit("perfbench: run limit reached")
    # a heap that never resizes, with a fixed young generation, keeps the
    # touched footprint, and so the peak RSS, from following G1's run-to-run
    # sizing decisions (pages are only resident once touched)
    mem = driver_mem()
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-Xmn1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out_dir}/tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + build.classpath(),
            "graft.perfbench.Harness", workload, input_dir, out_dir,
            str(seconds), str(trace), str(cpus())]
    # Spark's scratch stays in the run directory; a fixed loopback address
    # spares the host-name lookup; two malloc arenas keep the native part of
    # the peak RSS from varying with thread scheduling
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["MALLOC_ARENA_MAX"] = "2"
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(os.path.join(out_dir, "engine.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=out_dir, env=env)
        try:
            rc = proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "killed at the run limit"
    if rc != 0:
        with open(os.path.join(out_dir, "engine.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        sys.exit(f"perfbench: engine process failed ({rc})")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def report(workload, result, trace_doc, bad):
    attempted, failed = metrics.counts(result)
    e2e = metrics.end_to_end(result)
    for name, (value, unit, samples) in e2e.items():
        med, q1, q3 = metrics.spread(samples)
        print(f"{workload} {name} = {value:.6g} {unit}"
              f" (n={len(samples)}, q1={q1:.6g}, q3={q3:.6g})")
    for b in bad:
        print(f"{workload} INCORRECT: {b}")
    if trace_doc is None:
        chosen = {n: (e2e[n][0], u) for n, u in metrics.END_TO_END}
    else:
        chosen = metrics.per_layer(result, trace_doc)
        for name, (value, unit) in chosen.items():
            if value:
                print(f"{workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u) in chosen.items()}}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t0 = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("perfbench: run from the repository root (no src/main/scala)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    classes = build.build(root, build_dir)
    t_built = time.time()
    log(f"build ready after {t_built - t0:.1f} s")
    input_dir = ""
    if WORKLOADS[a.workload]:
        inputs = os.path.join(build_dir, "inputs")
        os.makedirs(inputs, exist_ok=True)
        input_dir = gen.ensure(WORKLOADS[a.workload], a.seed, inputs)
        prune_inputs(inputs)
        log(f"inputs ready after {time.time() - t_built:.1f} s")
    out_dir = os.path.join(build_dir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        # the run limit starts after the build: only a checkout's first
        # run compiles, and it may take longer
        deadline = t_built + RUN_LIMIT_S
        setups = []
        for i in range(SETUP_SAMPLES - 1):
            setups += run_engine(classes, "setup", "",
                                 os.path.join(out_dir, f"setup{i}"), 0, 0,
                                 deadline - time.time())["setup_s"]
        t_engine = time.time()
        result = run_engine(classes, a.workload, input_dir, out_dir,
                            a.seconds, a.trace, deadline - time.time())
        result["setup_s"] = setups + result["setup_s"]
        t_checks = time.time()
        log(f"engine process ran {t_checks - t_engine:.1f} s")
        bad = checks.check(a.workload, root, input_dir, out_dir, result)
        log(f"checks took {time.time() - t_checks:.1f} s")
        trace_doc = None
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            kept = os.path.join(traces, f"{a.workload}-{a.seed}.json")
            shutil.move(os.path.join(out_dir, "trace.json"), kept)
            log(f"spans written to {kept}")
            with open(kept) as f:
                trace_doc = json.load(f)
        report(a.workload, result, trace_doc, bad)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
