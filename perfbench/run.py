#!/usr/bin/env python3
"""Builds graft from the enclosing checkout and runs one benchmark workload.

    python3 perfbench/run.py --workload ts-query --seed 1 --seconds 10 --trace 0

Workloads: ts-query, pipeline-query, server-mixed (see perfbench/README.md).
The last line on stdout is the result object; build and run logs go to
stderr. Build output, inputs and sidecars stay under .bench_build/ in the
checkout. The build is redone only when a source or build file changed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("ts-query", "pipeline-query", "server-mixed")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# engine's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_hash():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src", "main")]
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, env):
    stamp = source_hash()
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip(), stamp
    print("[perfbench] building", file=sys.stderr)
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
           "-Dsbt.offline=true", "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    sys.stderr.write(p.stdout)
    cps = [l for l in p.stdout.splitlines()
           if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if p.returncode != 0 or not cps:
        fail("build failed", 3)
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1], stamp


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or not shutil.which("git"):
        return "unknown"
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    return p.stdout.strip() or "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", help="write the batch check's expected values here")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp, stamp = build(build_dir, env)

    work = os.path.join(build_dir, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    env.update(PERFBENCH_COMMIT=commit(), PERFBENCH_SOURCE_HASH=stamp)
    java = shutil.which("java", path=os.path.join(os.environ["JAVA_HOME"], "bin")) \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("no java found")
    # -XX:-UsePerfData keeps the JVM from writing its perf-data file
    # outside the checkout
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Dio.netty.tryReflectionSetAccessible=true",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--bench-dir", BENCH_DIR, "--work", work]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S}s", 4)
    print(f"[perfbench] run took {time.time() - t0:.1f}s", file=sys.stderr)
    for f in os.listdir(work):
        if f.startswith("result-"):
            shutil.copy(os.path.join(work, f), os.path.join(results, f))
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited with {proc.returncode}", 5)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("last output line is not a result object", 5)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("result object has the wrong keys", 5)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
