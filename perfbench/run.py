#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), then
runs one closed-loop JVM (perfbench.Main) against a local[nproc] Spark
session. The last line of standard output is the result JSON. See
perfbench/README.md for the workloads and metrics.
"""
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout clean
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# a run must end within 180 s; leave room to report the kill
JVM_DEADLINE_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    cp = build.build()
    tmp = os.path.join(build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    bench = os.path.relpath(build.BENCH_DIR)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={bench}/log4j2.properties"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK17_OPENS]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--data", f"{bench}/data", "--expected", f"{bench}/expected.json",
              "--work", os.path.join(build.BUILD_DIR, "work")]
           + sys.argv[1:])
    proc = subprocess.Popen(cmd)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=JVM_DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run: JVM exceeded {JVM_DEADLINE_S} s, killed", file=sys.stderr)
        rc = 3
    sys.exit(rc)


if __name__ == "__main__":
    main()
