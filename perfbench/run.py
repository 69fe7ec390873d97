#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/perfbench; later runs reuse the classes while the sources are
unchanged. The last line of standard output is the result as JSON:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 the per-layer ones.

Other modes:
    --selftest        tests of the benchmark's own logic
    --write-digests   regenerate perfbench/digests.tsv from the current engine

See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ["query_mix", "medallion_etl", "tick_stream"]
# a run must finish within 180 s; the JVM gets what the build left of it
RUN_LIMIT_S = 175
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        fail("engine sources (src/main/scala) not found; run from the root of a checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + bench


def build(jars):
    """Compiles engine and benchmark with scalac; skipped when up to date."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    print("[perfbench] compiling %d sources" % len(srcs), flush=True)
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", os.path.join(jars, "*"), "@" + args_file])
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    # the generated query tables come from the compiled generator
    shutil.rmtree(os.path.join(BUILD, "data"), ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print("[perfbench] compiled in %.1f s" % (time.time() - t0), flush=True)


def java(jars, args, timeout):
    """Runs perfbench.Main; stdout passes through, stderr (Spark's log)
    goes to .bench_build/perfbench/run.log. Returns (code, last line)."""
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java"] + opens + ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
                               "-Dderby.system.home=" + tmp,
                               "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
                               "perfbench.Main", "--bench-dir", HERE, "--build-dir", BUILD]
           + args)
    last = None
    with open(os.path.join(BUILD, "run.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=BUILD)
        watchdog = threading.Timer(timeout, p.kill)
        watchdog.start()
        try:
            for line in p.stdout:
                line = line.rstrip("\n")
                if line.startswith("{"):
                    last = line
                else:
                    print(line, flush=True)
            p.wait()
        finally:
            timed_out = not watchdog.is_alive()
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if timed_out:
        fail("run exceeded %d s" % timeout)
    if p.returncode != 0:
        with open(os.path.join(BUILD, "run.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    return p.returncode, last


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-digests", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.write_digests):
        ap.error("one of --workload, --selftest, --write-digests is required")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    build(jars)
    if a.selftest:
        code, _ = java(jars, ["--mode", "selftest"], 600)
        sys.exit(code)
    if a.write_digests:
        code, _ = java(jars, ["--mode", "digests"], 3600)
        sys.exit(code)
    if not os.path.isdir(os.path.join(BUILD, "data", "tables")):
        # in a JVM of its own, so that no run's set-up includes it
        code, _ = java(jars, ["--mode", "tables"], RUN_LIMIT_S)
        if code != 0:
            fail("generating the query tables failed; see .bench_build/perfbench/run.log")
    t0 = time.time()
    code, last = java(jars, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace)],
                      RUN_LIMIT_S)
    if code != 0 or last is None:
        fail("run failed (exit %s) after %.1f s; see .bench_build/perfbench/run.log"
             % (code, time.time() - t0))
    json.loads(last)  # the result line must be valid JSON
    print(last, flush=True)


if __name__ == "__main__":
    main()
