"""Benchmark entry point.

    python3 perfbench/run.py --workload sc_sparse --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark program (perfbench/build.py) when the sources
changed, then runs one workload in one JVM with Spark local[N], N = nproc.
Human-readable lines (input stats, every metric with its unit and sample
count) go to stdout first; the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. Everything the run writes
stays under .bench_build/ and .bench_run/ in the checkout.
"""
import argparse
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("sc_sparse", "continuous_tall", "index_crud")
RUN_TIMEOUT_S = 175
FIRST_RUN_TIMEOUT_S = 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap_gb():
    """Driver heap sized from MemTotal like the repo's tier-1 test run:
    half the machine's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    budget = (FIRST_RUN_TIMEOUT_S if time.time() - t_start > 5 else RUN_TIMEOUT_S)
    budget -= time.time() - t_start

    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_dir = os.path.join(build.ROOT, ".bench_run", f"{os.getpid()}_{int(time.time() * 1000)}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xss8m", "-XX:-UsePerfData"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.join(build.BENCH_DIR, "log4j2.properties"),
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--dir", run_dir, "--t0-ms", str(int(t_start * 1000))])
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run_dir)
    watchdog = threading.Timer(budget, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = line[len("RESULT "):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or result is None:
        print(f"benchmark failed (exit {code})", file=sys.stderr)
        return 1
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
