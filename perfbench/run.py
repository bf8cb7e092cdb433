#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_curation --seed 1 --seconds 8 --trace 0

The first run compiles the engine (src/main/scala) together with the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's
jars directory ($SPARK_HOME/jars, else the unmanagedBase of build.sbt) into
perfbench/.build; later runs reuse that build while the sources are
unchanged. The run's scratch files go to perfbench/.work and span files of
traced runs to perfbench/.out.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; with --trace 0 the metrics
are BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer
metrics. Lines before it, starting with '#', are the human-readable
summary. Any failure to build or run exits non-zero without a result.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
DATA = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.tsv")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# engine's build.sbt passes to forked runs).
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


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the engine's build.sbt
    names as its unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    fail(f"no Spark jars in {dirs}: set SPARK_HOME")


def sources():
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile engine + benchmark once per source state; returns classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, f"classes-{stamp}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes):
            return classes
        # older builds go once unused for an hour (a run may still use one)
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if time.time() - os.path.getmtime(old) > 3600:
                shutil.rmtree(old, ignore_errors=True)
        staging = classes + ".tmp"
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        compiler = [j for j in jars if os.path.basename(j).split("-2.")[0] in
                    ("scala-compiler", "scala-library", "scala-reflect")]
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
             "-d", staging] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
        os.rename(staging, classes)
        print(f"[perfbench] compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
        return classes


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}, spec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC) or not os.path.isdir(BENCH_SRC):
        fail("engine sources (src/main/scala) or benchmark sources not found")
    want, spec = expected_metrics(a.trace == 1)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    jars = spark_jars()
    classes = build(jars)

    # scratch of earlier runs (runs are sequential); Spark leaves its
    # block-manager directories behind when a run is killed
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
    for d in (WORK, tmp, OUT):
        os.makedirs(d, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join([classes, ENGINE_RES] + jars), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", repr(a.seconds), "--trace", str(a.trace),
              "--data", DATA, "--work", WORK, "--out", OUT, "--digests", DIGESTS])
    proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"benchmark process exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("no output")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not JSON: {lines[-1][:200]}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))} "
             f"or units {[(k, got.get(k), want.get(k)) for k in want if got.get(k) != want[k]]}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
