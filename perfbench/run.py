#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload wordcount|lake_cdc|curation \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the engine and the benchmark from
source (perfbench/build.py), then runs one workload in a fresh JVM on
`local[nproc]`. The JVM prints a human-readable report on stderr and, as
the last line of stdout, one JSON object: correct / attempted / failed /
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Traces and per-op summaries land in .bench_build/traces/.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("wordcount", "lake_cdc", "curation")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classes, main, args, tmp):
    here = os.path.dirname(os.path.abspath(__file__))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            main] + args
    return cmd


def run_jvm(cmd):
    """Run the JVM in its own process group; return (code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("run: workload timed out", file=sys.stderr)
        return 1, []
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    classes = build.build()
    if a.selftest:
        main_cls, args = "graft.perfbench.SelfTest", [str(cores())]
    else:
        main_cls = "graft.perfbench.Main"
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                str(cores()), build.BUILD_DIR]
    # a private temp directory per JVM: graft's commit staging leaves
    # directories there, removed with it once the JVM has exited
    os.makedirs(os.path.join(build.BUILD_DIR, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="jvm-", dir=os.path.join(build.BUILD_DIR, "tmp"))
    try:
        code, lines = run_jvm(java_cmd(classes, main_cls, args, tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        sys.exit(code or 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
