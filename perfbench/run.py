#!/usr/bin/env python3
"""Run one benchmark workload against the product in this checkout.

    python3 perfbench/run.py --workload pubsub --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the product sources
(src/main) together with the harness (perfbench/src/main) through sbt; later
runs reuse the build while the sources hash the same. The workload itself
runs in one JVM (perfbench.Main), which prints detail lines and, last, one
JSON result line; this script re-prints them and exits 0 only when the JVM
finished and the result line parses.
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
PRODUCT_MAIN = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench.classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "perfbench.stamp")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("pubsub", "stream", "dedup_graph")
# a run ends within 180 s, a run that builds first within 900 s
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [PRODUCT_MAIN, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH_FILE) as cp:
                    return cp.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = [ln.strip() for ln in proc.stdout.splitlines()
          if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp[-1])
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return cp[-1]


def heap_flag():
    """Driver heap: half of RAM, clamped to [1, 3] GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(ln.split()[1]) for ln in fh
                      if ln.startswith("MemTotal:"))
        gib = max(1, min(3, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gib = 2
    return "-Xmx%dg" % gib


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isdir(PRODUCT_MAIN):
        fail("product sources not found at src/main; run from the root "
             "of a full checkout")

    cp = build()
    work = os.path.join(WORK_ROOT, "%s-%d-%d" % (a.workload, a.seed,
                                                 os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = heap_flag()
    # a fixed heap and young generation keep peak RSS from following the
    # collector's sizing decisions
    cmd = (["java", heap, heap.replace("-Xmx", "-Xms"), "-Xmn512m",
            "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", repr(a.seconds), "--trace", str(a.trace),
              "--work", work])
    log_path = os.path.join(WORK_ROOT, "last-%s.log" % a.workload)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=log,
                                    text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                fail("workload did not finish within %d s (log: %s)"
                     % (JVM_TIMEOUT_S, log_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("workload exited with code %d (log: %s)"
             % (proc.returncode, log_path))
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
