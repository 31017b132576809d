#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_import --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed,
runs them in one JVM and prints, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 the per-layer ones (spans go to .bench_work/traces/). Lines
before it, starting with "#", are diagnostics: set-up times, sample
counts per operation, the final content check and a host-noise record.
"""
import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("bulk_import", "search_serve")
# JIT mode per workload. search_serve's operations are short Spark jobs
# whose cost is planning and scheduling on the driver. With tiered
# compilation its C2 compiler threads burn about one core through the
# whole run, so its times follow the JIT's schedule and the host's
# spare cores. C1 alone settles during set-up. bulk_import is data-bound
# and needs C2's code: C1 alone makes its imports 1.8x slower.
JIT_OPTS = {"bulk_import": [], "search_serve": ["-XX:TieredStopAtLevel=1"]}
# The JIT's threads are left out of the CPU-time metrics; a fixed set
# of compiler threads keeps their CPU time from vanishing when one exits.
FIXED_JIT_THREADS = "-XX:-UseDynamicNumberOfCompilerThreads"
TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_ticks():
    """(busy, steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (v + [0] * 8)[:8]
    return user + nice + system + irq + softirq, steal, sum(v[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    bench = Path(".bench_work")
    work = (bench / f"{a.workload}-seed{a.seed}-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, *JIT_OPTS[a.workload], FIXED_JIT_THREADS,
           f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes.resolve()}:{jars}/*", "graft.perfbench.Main", "run",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", str(work)]

    hz = os.sysconf("SC_CLK_TCK")
    busy0, steal0, _ = cpu_ticks()
    load0, cpu0, t0 = loadavg(), children_cpu_s(), time.time()
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            out = None
    elapsed = time.time() - t0
    busy1, steal1, _ = cpu_ticks()
    own = children_cpu_s() - cpu0
    noise = {
        "workload": a.workload, "seed": a.seed, "elapsed_s": round(elapsed, 3),
        "steal_cores": round((steal1 - steal0) / hz / elapsed, 3),
        "foreign_cpu_cores": round(((busy1 - busy0) / hz - own) / elapsed, 3),
        "own_cpu_cores": round(own / elapsed, 3),
        "loadavg_start": load0, "loadavg_end": loadavg(), "nproc": os.cpu_count(),
    }
    with open(bench / "host_noise.jsonl", "a") as f:
        f.write(json.dumps(noise) + "\n")

    lines = (out or "").strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    if result is None:
        sys.stderr.write(log_path.read_text()[-6000:])
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        failed_log = bench / "failed-jvm.log"
        shutil.copy(log_path, failed_log)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"benchmark run failed (exit {p.returncode}); JVM log in {failed_log}")
    shutil.copy(log_path, bench / "last-jvm.log")
    shutil.rmtree(work, ignore_errors=True)
    for line in lines[:-1]:
        print(line)
    print("# host_noise " + json.dumps(noise))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
