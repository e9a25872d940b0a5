#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
build under perfbench/target, keyed by a hash of every source file;
later runs start the JVM directly. The JVM runs with a pinned heap and
task-slot count (see perfbench/README.md). Human-readable lines come
first; the last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero, without
a result line, if the engine sources are missing or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ("ann_build_join", "ann_search_small", "text_neardup")

# A run must end within this many seconds of starting, build excluded.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src", "main"), ENGINE_SRC]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(env):
    """Compiles engine + benchmark unless the cached build matches."""
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    benv = dict(env)
    benv["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""),
                                 "-Dsbt.server.autostart=false",
                                 f"-Djava.io.tmpdir={tmp}"]).strip()
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=benv, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    build(env)

    start = time.monotonic()
    work = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # Fixed heap; a code cache large enough that warm compiled code is
    # never flushed (the engine's own build sets the same for its bench).
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both inside the run
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, RUN_LIMIT_S - (time.monotonic() - start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            traces = os.path.join(TARGET, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n") if out else []
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"engine run failed (exit code {proc.returncode})")
    sys.stdout.flush()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
