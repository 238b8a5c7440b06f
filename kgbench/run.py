#!/usr/bin/env python3
"""Knowledge-graph benchmark: build and query workloads.

Run from the repository root:

    python3 kgbench/run.py --workload build --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --workload query --seed 1 --seconds 10 --trace 1
    python3 kgbench/run.py --self-test

Builds the program and the benchmark from source (kgbench/build.sh) into
$CARGO_TARGET_DIR (default .bench_build), runs one JVM for the run, and
prints the run's JSON result as the last line of standard output. See
kgbench/README.md for the workloads and metrics.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("build", "query")
JVM_TIMEOUT_S = 175

# JDK 17 module opens Spark needs outside spark-submit (as build.sbt forks with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if os.path.commonpath([d, ROOT]) != ROOT:
        fail(f"build directory {d} is outside the checkout")
    return d


def build(out):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) in the current directory")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed with code {r.returncode}")


def threads():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(out, args, jvm_flags):
    """Runs kgbench.Main; returns (exit code, its result line or None)."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    tmp = os.path.join(out, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + jvm_flags
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([os.path.join(out, "kgbench.jar"),
                                os.path.join(spark_home, "jars", "*")]),
        "kgbench.Main",
    ] + args
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"kgbench: JVM ran {time.time() - t0:.1f} s", file=sys.stderr)
    lines = [l for l in stdout.splitlines() if l.startswith('{"correct"')]
    return proc.returncode, (lines[-1] if lines else None)


def class_archive(out):
    """The JVM class-data archive the runs start from: Spark and the
    program load some 20k classes, and mapping them from an archive instead
    of loading and verifying them saves seconds of every run's set-up. It
    is recorded once per build by a short query run, which loads the
    classes both workloads use. Returns the JVM flags that use it."""
    jsa = os.path.join(out, "kgbench.jsa")
    tried = jsa + ".tried"
    if not os.path.exists(jsa) and not os.path.exists(tried):
        open(tried, "w").close()
        work = os.path.join(out, "work", f"archive-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            run_jvm(out, ["query", "0", "1", "0", work, str(threads())],
                    [f"-XX:ArchiveClassesAtExit={jsa}", "-Xlog:cds=off"])
        except SystemExit:
            pass  # a failed recording only costs the runs their speed-up
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(jsa):
        print("kgbench: no class archive; runs load classes from the jars",
              file=sys.stderr)
        return []
    return [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off"]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show that corrupted outputs fail the checks")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    out = build_dir()
    t0 = time.time()
    build(out)
    jvm_flags = class_archive(out)
    print(f"kgbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    name = "selftest" if a.self_test else a.workload
    work = os.path.join(out, "work", f"{name}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        code, line = run_jvm(out, [name, str(a.seed), str(a.seconds),
                                   str(a.trace), work, str(threads())], jvm_flags)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or line is None:
        fail(f"benchmark JVM exited with code {code} and no result")
    print(line)


if __name__ == "__main__":
    main()
