#!/usr/bin/env python3
"""Pipeline benchmark launcher.

Builds the library and the benchmark from source with sbt (only when the
sources changed since the last build), then runs one benchmark JVM:

    python3 perfbench/run.py --workload nightly_ingest --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --self-test

Run it from the repository root. Build outputs go to `perfbench/target`
and `.bench_build/`; each run's data lives under `.bench_scratch/` and is
deleted before the run ends. The last line of stdout is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "stamp")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
WORKLOADS = ("nightly_ingest", "dedup_stream")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """SPARK_HOME, or the first installation on PATH that has a jars/ directory."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark installation not found: set SPARK_HOME")


def source_digest():
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main", "resources")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(spark):
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    t = time.time()
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=dict(os.environ, SPARK_HOME=spark))
        try:
            code = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed with exit code {code}")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t:.1f}s", file=sys.stderr)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="run the checker self-test only")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        fail("--workload is required")
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}; run from a full checkout")
    # a terminated launcher still stops and reaps its child (the finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = spark_home()
    build(spark)

    scratch = os.path.join(ROOT, ".bench_scratch", f"{a.workload or 'selftest'}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java", "-Xmx3g",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{os.path.join(spark, 'jars')}/*", "perfbench.Main"])
    if a.self_test:
        cmd += ["--self-test", "--seed", str(a.seed)]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--scratch", os.path.join(scratch, "run"),
                "--commit", git_commit()]
    p = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if p.returncode != 0:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with code {p.returncode}")
    if not a.self_test and not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail("benchmark JVM printed no result line")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
