#!/usr/bin/env python3
"""Reference-flow benchmark of the engine: builds it from source, runs one
workload, checks its outputs and prints one JSON result as the last line
of standard output.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from anywhere inside a checkout of the repository: the engine sources
are read from ../src/main/scala relative to this file. The build goes to
.bench_build/perfbench at the checkout root and is reused while no source
changes. It compiles engine + benchmark with the Scala compiler that ships
in the Spark distribution ($SPARK_HOME/jars) into one jar, then runs every
workload once on tiny inputs to record a class-data-sharing archive of the
classes they load: a run starts its JVM from that archive, which roughly
halves the cold start without touching steady-state speed. Each run works
in a fresh directory under .bench_build/runs and removes it when it ends.

Exit status is 0 only when a result was printed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("etl_refresh", "dashboard", "weekly_upsert")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 175
# A fixed heap, so peak RSS follows what the engine touches rather than
# how far the collector chose to grow the heap in one run.
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions uses).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java on PATH and JAVA_HOME unset")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark jars not found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources not found at %s: run from a checkout of the repository" % ENGINE_SRC)
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def jvm_cmd(classpath, main, args, work, extra=()):
    # no hsperfdata file: it would be the one write outside the checkout
    cmd = [java_bin(), "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-XX:-UsePerfData"] + list(extra) + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + ["-cp", classpath, main] + args


def build():
    """Compiles engine + benchmark once per source state; returns the JVM
    classpath and the options that load the class-data archive."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    archive = os.path.join(BUILD, "classes.jsa")
    stamp_file = os.path.join(BUILD, "stamp")
    classpath = jar + os.pathsep + spark_jars()
    share = ["-XX:SharedArchiveFile=" + archive, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, share
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", spark_jars()] + files
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail("build failed", r.returncode or 2)
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)
    work = tempfile.mkdtemp(prefix="train-", dir=BUILD)
    try:
        cmd = jvm_cmd(classpath, "perfbench.Train", ["--work", work], work,
                      ["-XX:ArchiveClassesAtExit=" + archive, "-Xlog:cds=off",
                       "-Xlog:cds+dynamic=off"])
        r = subprocess.run(cmd, stdout=sys.stderr, cwd=work, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("class-data training run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        fail("class-data training run failed", r.returncode or 2)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, share


def jvm(build_out, main, args, work):
    classpath, share = build_out
    cmd = jvm_cmd(classpath, main, args, work, share)
    # the engine prints progress on stdout; keep ours for the result line
    return subprocess.run(cmd, stdout=sys.stderr, cwd=work, timeout=RUN_TIMEOUT_S).returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="check the input generator and exit")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    built = build()
    runs = os.path.join(ROOT, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        if a.selftest:
            sys.exit(jvm(built, "perfbench.SelfTest", [], work))
        result = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--result", result]
        try:
            code = jvm(built, "perfbench.Main", args, work)
        except subprocess.TimeoutExpired:
            fail("run exceeded %d s" % RUN_TIMEOUT_S, 3)
        if code != 0 or not os.path.exists(result):
            fail("run failed with exit status %d" % code, code or 3)
        with open(result) as fh:
            out = json.load(fh)
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
