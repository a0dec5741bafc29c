"""Runs one benchmark workload and prints its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--record <file>]

Builds the engine from source on first use (perfbench/build.py), then runs
the workload in one JVM (local[nproc], one closed-loop client) with a fresh
java.io.tmpdir, warehouse, Spark local dir and lake roots under
.bench_build/runs/, all deleted at exit. --record writes the observed
output digests instead of checking them against perfbench/expected.tsv.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("medallion", "corpus")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap():
    """-Xmx as the repo's test recipe sizes it: half of MemTotal, 2g to 8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", choices=("0", "1"), default="0")
    p.add_argument("--record")
    a = p.parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    launch_ms = int(time.time() * 1000)

    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(work, d))
    cores = len(os.sched_getaffinity(0))
    xmx = heap()
    jars = build.spark_jars()
    trace_out = os.path.join(build.BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    # a fixed set of JIT compiler threads: cpu_s subtracts their CPU time,
    # which a thread that exited would take with it
    cmd = [build.java(), f"-Xmx{xmx}", "-Xss4m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby/derby.log",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--launch-ms", str(launch_ms),
        "--cores", str(cores), "--xmx", xmx,
        "--expected", os.path.join(build.ROOT, "perfbench", "expected.tsv"),
        "--trace-out", trace_out,
    ]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"workload {a.workload} exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"JVM exited with code {proc.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"no result line: {lines[-1][:200]}", file=sys.stderr)
        return 1
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
