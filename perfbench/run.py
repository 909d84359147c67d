#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. Compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jar directory ($SPARK_HOME/jars, else the
directory build.sbt names as unmanagedBase) into .bench_build/, once per
source fingerprint, then
runs one workload in a fresh JVM. The JVM prints a report line and, as
its last line, the result JSON; this script passes stdout through.

Everything the run writes stays under .bench_build/ in the working
directory: the compiled jar, a class-data-sharing archive of the
classes a Spark session loads (made once per build, so every run starts
equally warm and JVM/Spark start-up stays short), the run's scratch
directory (removed afterwards) and, for traced runs, the trace artifact
under .bench_build/traces/.
"""

import argparse
import fcntl
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
CDS = os.path.join(BUILD, "perfbench.jsa")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            fail(f"source directory {os.path.relpath(base, ROOT)} not found; "
                 "run from the root of a full checkout")
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the build's own."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        fail(f"Spark jar directory {jars or '(none)'} not found (set SPARK_HOME)")
    return jars


def build(srcs, jars):
    """Compile program + benchmark into .bench_build/perfbench.jar (cached)."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp_value = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp = os.path.join(BUILD, "perfbench.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == stamp_value:
            return jar
        for stale in (stamp, jar, CDS):
            if os.path.exists(stale):
                os.remove(stale)
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        compiler = [os.path.join(jars, f"{n}-2.13.17.jar")
                    for n in ("scala-compiler", "scala-library", "scala-reflect")]
        if not all(os.path.exists(j) for j in compiler):
            fail("scala-compiler/library/reflect 2.13.17 jars missing from " + jars)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        t0 = time.time()
        print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
             "-classpath", os.path.join(jars, "*"), "-d", classes, "@" + argfile],
            stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("compilation failed")
        print("perfbench: compiled in %.1fs" % (time.time() - t0), file=sys.stderr)
        # a jar, not a directory: class-data sharing archives only jar classes
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for d, _, fs in os.walk(classes):
                for f in sorted(fs):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        archive_classes(jar, jars)
        with open(stamp, "w") as f:
            f.write(stamp_value)
    return jar


def java_cmd(jar, jars, workdir, cds_flag):
    # soft references cleared at every collection: the live-heap metric then
    # counts what the program holds, not what a cache happened to keep
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:SoftRefLRUPolicyMSPerMB=0",
           # JVM log lines go to stderr: stdout's last line is the result
           "-Xlog:disable", "-Xlog:all=error:stderr"]
    if cds_flag:
        cmd.append(cds_flag)
    cmd += ["-Djava.io.tmpdir=" + os.path.join(workdir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([jar, os.path.join(jars, "*")])]


def run_jvm(cmd, workdir, timeout):
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=workdir, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %ds, stopping it" % timeout, file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def archive_classes(jar, jars):
    """Once per build: archive the classes a Spark session loads, so every
    measured run starts equally warm (class-data sharing)."""
    workdir = os.path.join(BUILD, "runs", "cds-%d" % os.getpid())
    try:
        tmp = os.path.join(workdir, "perfbench.jsa")
        cmd = java_cmd(jar, jars, workdir, "-XX:ArchiveClassesAtExit=" + tmp)
        with open(os.devnull, "w") as quiet:
            os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
            code = subprocess.run(cmd + ["graft.perfbench.ClassWarmup", workdir], cwd=workdir,
                                  stdout=quiet, stderr=quiet, timeout=300).returncode
        if code == 0 and os.path.exists(tmp):
            os.replace(tmp, CDS)
        else:
            print("perfbench: class archive not made; runs start without it", file=sys.stderr)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    jars = spark_jars()
    jar = build(sources(), jars)
    name = "selftest" if a.self_test else f"{a.workload}-{a.seed}-t{a.trace}"
    workdir = os.path.join(BUILD, "runs", f"{name}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    if a.self_test:
        main_class, args = "graft.perfbench.SelfTest", [workdir, os.path.join(ROOT, "BENCHMARK.json")]
    else:
        main_class = "graft.perfbench.Bench"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace, "--work-dir", workdir,
                "--trace-out", os.path.join(BUILD, "traces", f"trace-{a.workload}-{a.seed}.json")]
    share = "-XX:SharedArchiveFile=" + CDS if os.path.exists(CDS) and not a.self_test else None
    try:
        code = run_jvm(java_cmd(jar, jars, workdir, share) + [main_class] + args, workdir,
                       RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
