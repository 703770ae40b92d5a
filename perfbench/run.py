#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload eval_matrix --seed 1 --seconds 20 --trace 0

Builds the benchmark together with the program's sources (sbt, once per
source tree, under .bench_build/), then runs one measurement in a fresh
JVM. The last line of stdout is the JSON summary; the full record lands in
.bench_build/records/. Exits non-zero without a summary when the program's
sources are missing or the build or the run fails.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main")]
BUILD_FILES = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
WORKLOADS = ("eval_matrix", "curate")
# compile + the first measured run stay under 900 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for top in SOURCES:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def jvm_args(work):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC",
        # JVM warnings on stderr: stdout is the summary's
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        # call sites deep enough to reach the program's frames under MLlib
        "-Dspark.callstack.depth=200",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
    ])


def build():
    """Compile once per source tree; returns the runtime classpath. The
    benchmark's jar is copied under the source hash, so a build of
    another tree cannot change the jar a stamp names."""
    os.makedirs(BUILD, exist_ok=True)
    key = source_hash()
    stamp = os.path.join(BUILD, f"classpath-{key}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(stamp):
            cmd = ["sbt", "-batch", "-Dsbt.server.forcestart=false", "writeClasspath"]
            try:
                r = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                                   stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail("build timed out", 3)
            if r.returncode != 0:
                fail(f"build failed (sbt exit {r.returncode})", 3)
            with open(os.path.join(HERE, "target", "runtime-classpath.txt")) as f:
                jar, *deps = f.read().strip().split(os.pathsep)
            frozen = os.path.join(BUILD, f"perfbench-{key}.jar")
            shutil.copyfile(jar, frozen)
            with open(stamp, "w") as f:
                f.write(os.pathsep.join([frozen] + deps))
    with open(stamp) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    classpath = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    record = os.path.join(BUILD, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = jvm_args(work) + [
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--record", record,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        fail(f"run failed (exit {proc.returncode})", 5)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
