#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The harness then runs in one JVM on local[4]: it sets up the
workload's inputs from the seed once, warms up untimed, measures for
--seconds of operation time, checks every output, and writes a full
artifact (spans, per-op times, host load) to perfbench/out/. The last line
of standard output is the result: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1, both as declared in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench-build.stamp")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
HEAP = "2g"

# Layers each workload exercises. A declared per-layer metric of another
# layer is reported as 0: that workload spends nothing in it.
LAYERS = {
    "etl_batch": ("spark.", "pipeline.", "sinks."),
    "query_mix": ("spark.", "queries."),
    "store_ingest": ("spark.", "ops."),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    trees = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for d, _, names in sorted(os.walk(tree)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile"]
    print("[perfbench] building engine + harness: " + " ".join(cmd), file=sys.stderr)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    log_path = os.path.join(os.path.dirname(STAMP), "perfbench-build.log")
    with open(log_path, "w") as log:
        code = run_bounded(cmd, HERE, env, log, BUILD_LIMIT_S)
    if code != 0:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_bounded(cmd, cwd, env, log, limit):
    """Run cmd in its own process group; kill the group past `limit` s."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC, ROOT)}: "
             "run from a full checkout")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json missing at the checkout root")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark distribution with a jars/ directory")
    with open(spec_path) as fh:
        spec = json.load(fh)

    build()

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    artifact = os.path.join(out, tag + ".json")
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--artifact", artifact, "--result", result]
    log_path = os.path.join(out, tag + ".log")
    with open(log_path, "w") as log:
        code = run_bounded(cmd, ROOT, dict(os.environ), log,
                           max(10, RUN_LIMIT_S - (time.time() - t0)))
    if code != 0 or not os.path.exists(result):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-6000:])
        fail(f"harness failed (exit {code}); log: {os.path.relpath(log_path, ROOT)}")
    with open(result) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        name = m["name"]
        if name in res["metrics"]:
            v = res["metrics"][name]
        elif a.trace and not name.startswith(LAYERS[a.workload]):
            v = 0.0
        else:
            fail(f"harness reported no {name}")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"harness reported {name} = {v!r}")
        metrics[name] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
