#!/usr/bin/env python3
"""Station-store benchmark: build the harness from this checkout and run one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload station_store --seed 1 --seconds 20 --trace 0

The harness (perfbench/, an sbt project of its own) is compiled together
with the engine's sources (src/main/scala) into .bench_build/. A run starts
one JVM, prints `metric ...`/`layer ...` lines and ends stdout with one JSON
result line. The full artifact goes to .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "sbt", "classpath.txt")
STAMP = os.path.join(BUILD, "sbt", "source.sha256")
WORKLOADS = ("station_store", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these when the session starts outside spark-submit.
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


def source_digest():
    """Hash of every input of the build, so an edited tree is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), BENCH]
    for top in roots:
        for d, dirs, files in os.walk(top):
            # sbt's own outputs (target/, the meta-build's project/project/)
            dirs[:] = sorted(x for x in dirs if x != "target" and not (x == "project" and d.endswith("project")))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    print("perfbench: building the harness and the engine (sbt)", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=BENCH, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # The engine under test is this checkout's own source tree.
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(BENCH, "build.sbt"))):
        fail("run from the root of a checkout that holds src/main/scala/graft and perfbench/")
    build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(BUILD, "results", f"{tag}.json")
    os.makedirs(work, exist_ok=True)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(stdout)
        fail(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(f"artifact {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
