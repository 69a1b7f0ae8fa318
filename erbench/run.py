#!/usr/bin/env python3
"""Entity-resolution benchmark runner.

Run from the repository root:

    python3 erbench/run.py --workload resolve_batch --seed 1 --seconds 20 --trace 0
    python3 erbench/run.py --self-test

Builds the engine (src/main/scala) and the benchmark (erbench/src/main/scala)
from source with the Scala compiler that ships with Spark, into
.bench_build/, then runs one workload in a fresh JVM. The last line of
stdout is the JSON result. Exits non-zero, printing no result, when the
engine sources are missing or the run fails.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src", "main", "scala")
TEST_SRC = os.path.join(BENCH, "src", "test", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("resolve_batch", "incremental_ingest")
RUN_TIMEOUT_S = 175
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
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
    print("erbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else spark-submit's."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_tree(srcs, classpath, tag):
    """Compile `srcs` once per content hash; returns the classes dir."""
    h = hashlib.sha256(classpath.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "%s-%s" % (tag, h.hexdigest()[:16]))
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    print("erbench: compiling %d sources (%s)" % (len(srcs), tag), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, timeout=800).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, out)
    return out


def java_cmd(classpath, work, main, args):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return (["java"] + opts + [
        "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, main] + args)


def run_jvm(cmd, work):
    """Runs the JVM in its own process group; returns (code, last JSON line)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # SPARK_LOCAL_DIRS, when set, overrides spark.local.dir: keep both in the run dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work, env=env,
                            start_new_session=True)
    result = None

    def stop(*_):
        raise SystemExit("erbench: run stopped")

    # a timeout or a termination request ends the JVM's whole process group
    for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    signal.alarm(RUN_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                result = line.strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return code, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(ENGINE_SRC) or not sources(ENGINE_SRC):
        fail("engine sources not found at " + ENGINE_SRC)

    jars = spark_jars()
    classes = compile_tree(sources(ENGINE_SRC, BENCH_SRC), jars, "classes")
    classpath = classes + os.pathsep + jars
    work = os.path.join(BUILD, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.self_test:
            tests = compile_tree(sources(TEST_SRC), classpath, "test-classes")
            code, _ = run_jvm(java_cmd(tests + os.pathsep + classpath, work,
                                       "erbench.TraceTests", []), work)
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
        code, result = run_jvm(java_cmd(classpath, work, "erbench.Main", args), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        fail("run failed (exit code %s)" % code)
    print(result)


if __name__ == "__main__":
    main()
