#!/usr/bin/env python3
"""Router pipeline benchmark launcher.

Run from the repository root:

    python3 routerbench/run.py --workload replay_clean --seed 1 --seconds 15 --trace 0
    python3 routerbench/run.py --self-test

It compiles the program (src/main/scala) and the benchmark harness with the
Scala compiler shipped in the Spark distribution ($SPARK_HOME, else the one
a spark-submit on PATH belongs to), caches the classes under
the build directory ($CARGO_TARGET_DIR, default .bench_build) keyed by a
hash of the sources, then runs the harness in one JVM: local[nproc] Spark,
heap sized from the machine, the JDK 17 --add-opens list of build.sbt.
Everything it writes stays under the build directory. The last line of
standard output is the JSON result; the exit code is nonzero on any failed
check or error.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src", "main", "scala")
SELFTEST_SRC = os.path.join(BENCH_DIR, "src", "test", "scala")
WORKLOADS = ("replay_clean", "replay_dirty", "stream_live")
JVM_TIMEOUT_S = 170

# build.sbt's jdk17AddOpens (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("routerbench: " + msg, file=sys.stderr)
    sys.exit(code)


def scala_files(root):
    out = []
    for d, _, names in os.walk(root):
        out.extend(os.path.join(d, n) for n in names if n.endswith(".scala"))
    return sorted(out)


def source_hash(roots, extra=""):
    h = hashlib.sha256(extra.encode())
    for root in roots:
        for f in scala_files(root):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def spark_home():
    """$SPARK_HOME, else the first distribution with a jars/ directory that
    a spark-submit on PATH belongs to (pip's pyspark shim has none)."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark distribution found: set SPARK_HOME or put its spark-submit on PATH")


def spark_jars():
    jars_dir = os.path.join(spark_home(), "jars")
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("the Spark distribution at %s lacks the Scala compiler jars" % jars_dir)
    return jars, compiler


def compile_scala(srcs, classpath, out_dir, compiler, log):
    """Compiles into out_dir via a temporary sibling, so a cut build never
    leaves a half-filled class directory behind."""
    if os.path.isdir(out_dir):
        return
    tmp = out_dir + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files = [f for root in srcs for f in scala_files(root)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-classpath", ":".join(classpath), "-d", tmp] + files
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("compilation failed (log: %s)" % log)
    try:
        os.rename(tmp, out_dir)
    except OSError:
        if not os.path.isdir(out_dir):
            raise
        shutil.rmtree(tmp, ignore_errors=True)  # a concurrent build won the race
    print("routerbench: compiled %d files in %.1f s" % (len(files), time.time() - t0), file=sys.stderr)


def build(build_dir, with_selftest=False):
    if not os.path.isdir(PROGRAM_SRC) or not scala_files(PROGRAM_SRC):
        fail("no program sources at %s: run from a checkout of the repository" % PROGRAM_SRC)
    jars, compiler = spark_jars()
    tag = ",".join(os.path.basename(j) for j in compiler)
    program = os.path.join(build_dir, "program-" + source_hash([PROGRAM_SRC], tag), "classes")
    compile_scala([PROGRAM_SRC], jars, program, compiler, program + ".log")
    harness_roots = [HARNESS_SRC] + ([SELFTEST_SRC] if with_selftest else [])
    harness = os.path.join(build_dir, "harness-" + source_hash(harness_roots, program), "classes")
    compile_scala(harness_roots, [program] + jars, harness, compiler, harness + ".log")
    return [harness, program] + jars


def heap_mb():
    """A quarter of physical memory, clamped to [1, 3] GiB. The heap is
    fixed (-Xms = -Xmx): with a growing heap the stream's backlog rate
    spread 21 % over five seeds, with a fixed one 3 %."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        kb = 8 << 20
    return max(1024, min(3072, kb // 4096))


def run_jvm(classpath, main, args, work, log):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xms%dm" % heap_mb(), "-Xmx%dm" % heap_mb(), "-Xss4m",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classpath), main] + args)
    last = None
    timed_out = []

    def kill():
        timed_out.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=work,
                                start_new_session=True, text=True)
        timer = threading.Timer(JVM_TIMEOUT_S, kill)
        timer.start()
        # a terminated launcher takes its JVM down with it
        signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit(143)))
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
                if line.strip():
                    last = line.strip()
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                kill()
                proc.wait()
    if timed_out:
        print("routerbench: killed after %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        rc = rc or 1
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-6000:]
        sys.stderr.write(tail)
    return rc, last


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--self-test", action="store_true", help="run the harness self-tests")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(build_dir, with_selftest=a.self_test)
    name = "selftest" if a.self_test else a.workload
    work = os.path.join(build_dir, "work", "%s-%d" % (name, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(build_dir, "work", "%s-%d.log" % (name, os.getpid()))
    try:
        if a.self_test:
            rc, last = run_jvm(classpath, "routerbench.SelfTest", [work], work, log)
        else:
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", a.trace, "--work", work, "--out", os.path.join(build_dir, "results")]
            rc, last = run_jvm(classpath, "routerbench.Main", args, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        sys.exit(rc if 0 < rc < 256 else 1)
    os.replace(log, os.path.join(build_dir, "work", "last-%s.log" % name))
    if not a.self_test and not (last and last.startswith("{") and '"metrics"' in last):
        fail("the harness printed no result line", 1)


if __name__ == "__main__":
    main()
