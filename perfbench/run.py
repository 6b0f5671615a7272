#!/usr/bin/env python3
"""Closed-loop benchmark of the extraction engine, its resumable table and
its query suite.

    python3 perfbench/run.py --workload extract_scan --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. The first run compiles the main
sources plus perfbench/src with the Scala compiler that ships in the Spark
jar directory named by build.sbt (`unmanagedBase`), into .bench_build/
(keyed by a hash of the sources, so later runs reuse it). Each run then
starts one JVM that acts as the single client: it submits one Spark action
at a time on local[4], measures for --seconds, checks every answer and
prints one JSON result as the last line of stdout. Scratch files live in
.bench_build/tmp/<pid> and are removed when the run ends.

Exit codes: 0 = measured and correct; 1 = an answer was wrong (the result
line says "correct": false); 2 = the checkout cannot be built or run.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("extract_scan", "query_suite")
HEAP = "3g"
# a fixed young generation: collections then follow allocation volume, not
# the pause-time model's view of the host, and heap_peak_mb gets enough
# readings per window
YOUNG = "512m"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(*roots):
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def spark_jars(root):
    """The jar directory build.sbt compiles against (unmanagedBase), or
    $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt"), encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = ([m.group(1)] if m else []) + \
        ([os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else [])
    for c in cands:
        if os.path.isdir(c) and any(j.startswith("scala-compiler") for j in os.listdir(c)):
            return c
    die("no Spark jar directory with a Scala compiler (build.sbt unmanagedBase / SPARK_HOME)")


def build(root, jars):
    """Compile once per source hash; returns the classes directory."""
    srcs = scala_files(os.path.join(root, "src", "main", "scala"),
                       os.path.join(root, "perfbench", "src"))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die(f"compile failed (exit {r.returncode})")
    open(os.path.join(out, ".done"), "w").close()
    for old in os.listdir(os.path.dirname(out)):
        if old.startswith("classes-") and old != os.path.basename(out):
            shutil.rmtree(os.path.join(os.path.dirname(out), old), ignore_errors=True)
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        die("run from the root of a source checkout (build.sbt and src/main/scala not found)")
    jars = spark_jars(root)
    classes = build(root, jars)

    tmp = os.path.join(root, ".bench_build", "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    out_dir = os.path.join(root, ".bench_build", "out")
    os.makedirs(out_dir, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    log4j = os.path.join(root, "perfbench", "log4j2.properties")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={log4j}"] + opens + [
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graft.perfbench.PerfBench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", root, "--tmp", tmp, "--out", out_dir]
    child = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    # a SIGTERM to this script unwinds through the finally below, which
    # stops the JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        child.kill()
    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    last = None
    try:
        for line in child.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = child.wait()
    finally:
        timer.cancel()
        if child.poll() is None:
            child.kill()
            child.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if timed_out.is_set():
        die(f"run exceeded {RUN_TIMEOUT_S}s")
    if code not in (0, 1) or not last or not last.startswith("{\"correct\""):
        die(f"benchmark JVM exited {code} without a result line")
    sys.exit(code)


if __name__ == "__main__":
    main()
