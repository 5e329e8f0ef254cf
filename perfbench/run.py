#!/usr/bin/env python3
"""The graft benchmark: one seeded workload through the program's job entry
points at local[nproc], checked against committed digests.

Run from the root of a checkout:

    python3 perfbench/run.py --workload articles --seed 1 --seconds 4 --trace 0

The last line of stdout is one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones and writes the run's spans under .perfbench/traces/. The exit
code is 0 only when every output matched. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "sources.sha256")
WORKLOADS = ("articles", "warc-small", "curate")
SETUP_PROBES = 2
HEAP = "2g"
# A fixed young generation and a fixed marking threshold make collections
# fall at the same points of allocation in every run, so the heap measured
# after them repeats; with G1's adaptive sizing, peak_heap_mb moved ±15%
# between calls of one run.
GC_FLAGS = ["-Xmn128m", "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=15"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java: set JAVA_HOME or put java on PATH")
    return exe


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fingerprint():
    """Digest of everything the build compiles, so an unchanged tree is not
    rebuilt on every run."""
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    fp = fingerprint()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("no sbt on PATH to build the benchmark")
    opts = env.get("SBT_OPTS", "")
    extra = ["-Dsbt.server.autostart=false", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(SCRATCH, "tmp")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        extra += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    if "sbt.offline" not in opts:
        extra.append("-Dsbt.offline=true")
    benv = dict(env, SBT_OPTS=(opts + " " + " ".join(extra)).strip())
    benv.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building the program and the benchmark", file=sys.stderr)
    r = subprocess.run([sbt, "-batch", "compile"], cwd=HERE, env=benv,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")


def jvm(env, main, args):
    classpath = CLASSES + os.pathsep + os.path.join(env["SPARK_HOME"], "jars", "*")
    flags = [x for p in ADD_OPENS for x in ("--add-opens", p)]
    return ([java()] + flags +
            ["-Xmx" + HEAP] + GC_FLAGS +
            ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(SCRATCH, "tmp"),
             "-Dspark.ui.enabled=false", "-cp", classpath, main] + args)


def launch(env, main, args, stdout):
    return subprocess.Popen(jvm(env, main, args), cwd=ROOT, env=env, stdout=stdout, text=True)


def until_ready(p, t0):
    """Seconds from launch `t0` until the JVM says `ready`: its set-up, from
    JVM launch until the first trivial job completes. None if it never did."""
    for line in p.stdout:
        if line.strip() == "ready":
            return time.perf_counter() - t0
    return None


def probe(env, n, workload):
    """One set-up probe in a JVM of its own."""
    t0 = time.perf_counter()
    p = launch(env, "perfbench.Setup", [str(n), SCRATCH, workload], subprocess.PIPE)
    try:
        took = until_ready(p, t0)
    finally:
        stop(p)  # set-up is over; tearing Spark down is not part of it
        # the killed JVM leaves its Spark scratch behind; nothing else runs yet
        shutil.rmtree(os.path.join(SCRATCH, "spark-local"), ignore_errors=True)
    if took is None:
        fail("set-up probe ended without running its first job")
    return took


def stop(p):
    if p.poll() is None:
        p.kill()
        p.wait()


def host_facts(env, n):
    ver = subprocess.run([java(), "-version"], capture_output=True, text=True).stderr
    core = glob.glob(os.path.join(env["SPARK_HOME"], "jars", "spark-core_*.jar"))
    spark = os.path.basename(core[0])[len("spark-core_"):-len(".jar")] if core else "?"
    return {"nproc": n, "jdk": ver.splitlines()[0] if ver else "?", "spark": spark}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="regenerate perfbench/expected/<workload>.tsv from this tree")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one output row before the check (the run must fail)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found under src/main/scala: run from a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home(),
               SPARK_LOCAL_DIRS=os.path.join(SCRATCH, "spark-local"))
    os.makedirs(os.path.join(SCRATCH, "tmp"), exist_ok=True)
    build(env)
    n = cores()

    # set-up is timed SETUP_PROBES times: in fresh probe JVMs and in the run's own JVM
    setup = [] if a.trace or a.write_expected else [probe(env, n, a.workload) for _ in range(SETUP_PROBES - 1)]
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(n), "--root", ROOT, "--scratch", SCRATCH]
    if a.write_expected:
        args.append("--write-expected")
    if a.corrupt:
        args.append("--corrupt")
    t0 = time.perf_counter()
    p = launch(env, "perfbench.Main", args, subprocess.PIPE)
    timer = threading.Timer(RUN_TIMEOUT_S, p.kill)
    timer.start()
    try:
        own = until_ready(p, t0)
        out = p.stdout.read()
        p.wait()
    finally:
        timer.cancel()
        stop(p)
    if own is not None and setup:
        setup.append(own)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail("benchmark JVM exited with %d" % p.returncode)
    if a.write_expected:
        print(lines[-1])
        return 0
    res = json.loads(lines[-1])
    if setup:
        m = res["metrics"]
        m["setup_s"] = {"value": statistics.median(setup), "unit": "s"}
        res["metrics"] = {k: m[k] for k in
                          ("docs_per_s", "cpu_s_per_kdoc", "setup_s", "peak_heap_mb", "ok_frac")}
    print("host: " + json.dumps(host_facts(env, n)))
    for k, v in res["metrics"].items():
        print("%s %s = %s %s" % (a.workload, k, v["value"], v["unit"]))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
