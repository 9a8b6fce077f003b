#!/usr/bin/env python3
"""Benchmark of the repository's program, one workload per invocation.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_job|query_suite \\
        --seed N --seconds S --trace 0|1

The first run builds the program and the benchmark harness from source with
sbt (`perfbench/build.sbt`) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, runs the workload in one JVM on `local[nproc]`, checks the
program's outputs, and prints two JSON lines: a detail record (every
metric with its unit, sample counts, the tail percentile, the check
results and the machine's figures), then the result line
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.

Each workload times a fixed amount of work (4 ETL jobs; one pass of 9
queries), so that every run of one build does the same operations; on four
cores that takes about as long as the `run_seconds` in BENCHMARK.json.
`--seconds` is accepted for the benchmark interface and does not change it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")

sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import oracle_check  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("etl_job", "query_suite")
# A fixed heap (-Xms = -Xmx), so the peak resident size does not depend on
# when the collector chose to grow the heap.
HEAP = "2g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), PROGRAM_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the program and the harness unless the build is current."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "perfbench.stamp")
    want = digest.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt is not on PATH")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        try:
            rc = subprocess.run(
                [sbt, "-batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "compile"],
                cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            die("build timed out")
    if rc != 0:
        die(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(want)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found (set JAVA_HOME)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("SPARK_HOME must point at a Spark 4.1 installation")
    return os.path.join(home, "jars", "*")


def cpu_times():
    """Machine-wide CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_jvm(args, work, data, out, cpus, deadline):
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark_jars()}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out, "--cpus", str(cpus)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                timeout=max(10, deadline - time.time())
                                ).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        die(f"workload JVM failed ({rc}):\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind: the running JVM is killed and waited for, and the
    # run's scratch directory is removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PROGRAM_SRC):
        die(f"program sources not found at {PROGRAM_SRC}")
    build()
    deadline = time.time() + RUN_DEADLINE_S

    work = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        data = os.path.join(work, "data")
        t0 = time.perf_counter()
        gen_data.generate(data, args.seed)
        gen_s = time.perf_counter() - t0
        cpus = len(os.sched_getaffinity(0))
        out = os.path.join(work, "record.json")
        before = cpu_times()
        run_jvm(args, work, data, out, cpus, deadline)
        delta = [b - a for a, b in zip(before, cpu_times())]
        # The raw record, spans included, outlives the run's scratch.
        shutil.copy(out, os.path.join(
            BUILD, f"last-{args.workload}-trace{args.trace}.json"))
        with open(out) as f:
            rec = json.load(f)
        # Time the hypervisor gave to other machines while the JVM ran: the
        # machine's own drift, apart from the program's.
        rec["steal_pct"] = 100.0 * delta[7] / max(1, sum(delta))
        with open(os.path.join(data, "inputs.json")) as f:
            inputs = json.load(f)
        bad = {}
        if args.workload == "query_suite":
            bad = oracle_check.check(os.path.join(work, "results"), data)
        report(args, rec, gen_s, bad, inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, rec, gen_s, bad, inputs):
    ops = stats.ops_from_record(rec)
    if not ops:
        die("no operation completed")
    failed = stats.count_failed(ops, bad)
    e2e, detail = stats.end_to_end(rec, ops, failed, gen_s)
    if args.trace:
        groups = rec.get("extra", {}).get("groups", {})
        metrics = stats.per_layer(rec, ops, failed, groups)
    else:
        metrics = e2e
    for name in metrics:
        if not stats.valid_name(name):
            die(f"invalid metric name {name}")
    as_json = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    failures = rec["failures"] + [f"{q}: {why}" for q, why in bad.items()]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "metrics": as_json, "detail": detail,
        "checks": {"failed_ops": failed, "failures": failures},
        "inputs": inputs,
        "env": {"nproc": rec["cpus"], "spark_version": rec["spark_version"],
                "heap_mb": rec["heap_mb"], "canary_s": rec["canary_s"],
                "steal_pct": rec["steal_pct"]}},
        allow_nan=False))
    print(json.dumps({"correct": failed == 0 and not failures,
                      "attempted": len(ops), "failed": failed,
                      "metrics": as_json}, allow_nan=False))


if __name__ == "__main__":
    main()
