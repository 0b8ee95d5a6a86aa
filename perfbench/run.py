#!/usr/bin/env python3
"""Builds and runs the benchmark.

    python3 perfbench/run.py --workload transfer --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) with the Scala
compiler that ships in the Spark distribution, into
.bench_build/perfbench/perfbench.jar, and records a class-data-sharing
archive from a short training run; later runs reuse both while the sources
are unchanged. The workload runs in one JVM, which prints a `report ...`
line (the full workload report) and, last, the result object; this script
forwards both.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the repository's build.sbt compiles against (`unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        jars = m.group(1) if m else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark jars found: set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compiles program + benchmark into one jar, once per source state."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "STAMP")
    jsa = os.path.join(BUILD, "spark.jsa")
    if (os.path.exists(jar) and os.path.exists(jsa)
            and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return jar
    for f in (jar, stamp_file, jsa):
        if os.path.exists(f):
            os.remove(f)
    tmp = os.path.join(BUILD, "perfbench-tmp.jar")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-Djava.io.tmpdir="
           + os.path.join(BUILD, "tmp"), "-cp", jars, "scala.tools.nsc.Main",
           "-d", tmp, "-cp", jars, "-nowarn", *srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    os.rename(tmp, jar)
    class_archive(jar, jsa)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


def class_archive(jar, jsa):
    """Records a class-data-sharing archive of the classes a short
    `transfer` run loads. Every run maps it (java_cmd): without it each JVM
    loads and verifies Spark's classes from the jars again, about 12 s more
    set-up per run on a 4-core box, which the benchmark's time budget has
    no room for. A training run that leaves no archive fails the build."""
    train = os.path.join(BUILD, "train")
    os.makedirs(train, exist_ok=True)
    log = os.path.join(BUILD, "train.log")
    cmd = java_cmd(jar, "perfbench.Main", [
        "--workload", "transfer", "--seed", "0", "--seconds", "1",
        "--trace", "0", "--out", train], f"-XX:ArchiveClassesAtExit={jsa}")
    try:
        run_jvm(cmd, log)
    except subprocess.TimeoutExpired:
        fail(f"class archive training exceeded {RUN_TIMEOUT_S} s (log: {log})")
    shutil.rmtree(train, ignore_errors=True)
    if not os.path.exists(jsa):
        fail(f"class archive training left no archive (log: {log})")


def java_cmd(jar, main, args, share=None):
    share = share or "-XX:SharedArchiveFile=" + os.path.join(BUILD, "spark.jsa")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap with fixed generations keeps peak RSS comparable
    # from run to run
    return ["java", *opens, share, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy",
            # no hsperfdata file outside the checkout
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile="
            + os.path.join(ROOT, "perfbench", "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", jar + os.pathsep + spark_jars(), main, *args]


def run_jvm(cmd, log_path):
    """Runs the JVM in its own process group; on timeout (TimeoutExpired) or
    interruption kills the whole group and waits for it before re-raising."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    shutil.rmtree(os.path.join(BUILD, "tmp"), ignore_errors=True)
    return p.returncode, out.decode(errors="replace")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--record-expected", action="store_true",
                    help="store the outputs of this run as expected values")
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests")
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isdir(BENCH_SRC):
        fail("run from the repository root: src/main/scala and "
             "perfbench/src are both needed")
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    jar = build()
    if a.self_test:
        try:
            code, out = run_jvm(java_cmd(jar, "perfbench.SelfTest", []),
                                os.path.join(runs, "selftest.stderr"))
        except subprocess.TimeoutExpired:
            fail(f"self-test exceeded {RUN_TIMEOUT_S} s", 3)
        sys.stdout.write(out)
        sys.exit(code)
    if a.workload is None or a.seed is None or a.seconds is None or a.trace is None:
        fail("need --workload, --seed, --seconds and --trace")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", runs]
    if a.record_expected:
        args.append("--record-expected")
    log = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.stderr")
    t0 = time.time()
    try:
        code, out = run_jvm(java_cmd(jar, "perfbench.Main", args), log)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})", 3)
    lines = [l for l in out.splitlines() if l.startswith("report ")
             or l.startswith("{")]
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"no result from the run (exit {code}, log: {log})", 4)
    for l in lines:
        print(l)
    print(f"perfbench: {a.workload} finished in {time.time() - t0:.1f} s",
          file=sys.stderr)
    sys.exit(code)


if __name__ == "__main__":
    main()
