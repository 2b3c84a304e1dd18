#!/usr/bin/env python3
"""Benchmark runner: builds the engine plus harness once, then runs one
workload in a fresh JVM started directly on the compiled classes (no sbt in
the measured process, so the result line is bare JSON).

Usage (from the repository root):
  python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --record-digests

The last line of standard output is the result object. See
perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_sync", "etl_import", "query_suite")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP = os.path.join(HERE, "target", "perfbench-build.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
MAINTENANCE_TIMEOUT_S = 1800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every compiled input, so a checkout builds once and rebuilds
    only when a source changes."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cds_archive(workload):
    """Class-data archive of one workload's JVM, written by its first run
    in a checkout and mapped by the later ones (see NOTES.md)."""
    return os.path.join(HERE, "target", f"cds-{workload}.jsa")


def build():
    fp = source_fingerprint()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (sbt exit {r.returncode})")
    # class-data sharing maps classes from jars only, not from directories
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    for w in WORKLOADS:
        if os.path.exists(cds_archive(w)):
            os.remove(cds_archive(w))
    with open(STAMP, "w") as f:
        f.write(fp)


def run_jvm(jvm_args, work, timeout, cds=None):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    jars = os.path.join(spark_home, "jars")
    cp = [JAR] + sorted(os.path.join(jars, j) for j in os.listdir(jars)
                        if j.endswith(".jar"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    share = []
    if cds:
        share = [f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                 else f"-XX:ArchiveClassesAtExit={cds}"]
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:+UseParallelGC", "-Xlog:disable",
            "-Xlog:all=warning:stderr", "-Xlog:cds*=off:stderr"] + share + ["-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(cp), "graft.perfbench.PerfBench",
            "--work", work] + jvm_args)
    # own process group, so a timeout stops the JVM and anything it started
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout} s")
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    if not (a.workload or a.selftest or a.record_digests):
        fail("one of --workload, --selftest or --record-digests is required")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_args = ["--digests", os.path.join(HERE, "query_digests.json")]
        if a.selftest:
            jvm_args += ["--selftest", "1"]
        elif a.record_digests:
            jvm_args += ["--record-digests", "1"]
        else:
            jvm_args += ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--trace-out", os.path.join(HERE, ".work", "traces")]
        if a.workload:
            rc, out = run_jvm(jvm_args, work, RUN_TIMEOUT_S, cds_archive(a.workload))
        else:
            rc, out = run_jvm(jvm_args, work, MAINTENANCE_TIMEOUT_S)
        result_path = os.path.join(work, "result.json")
        result = None
        if os.path.exists(result_path):
            with open(result_path) as f:
                result = f.read().strip()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if rc != 0:
        fail(f"benchmark JVM exited with {rc}")
    if result is None:
        if a.workload:
            fail("no result was written")
        return
    print(result, flush=True)


if __name__ == "__main__":
    main()
