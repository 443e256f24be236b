#!/usr/bin/env python3
"""Benchmark command for the transcript-to-graph engine.

    python3 kgbench/run.py --workload tag|kg_open|dedup|all --seed N --seconds S --trace 0|1
    python3 kgbench/run.py --self-test

Run it from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (into the checkout) and records the classpath;
later runs start the JVM directly. Each workload runs in its own JVM with
local[nproc] and at most nproc GC threads. The last line of standard output is
the result as one JSON object; `--workload all` runs the three workloads one
after another and prints a table.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "kgbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha1")
MODEL = os.path.join(ROOT, "models", "ner-conllnotags-v1.gz")
WORKLOADS = ["tag", "kg_open", "dedup"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties", ".tsv"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine source at {need}: run from the root of a full checkout")
    if not os.path.isfile(MODEL):
        fail("the NER model file models/ner-conllnotags-v1.gz is missing")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    print("kgbench: building the engine and the benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], cwd=HERE, env=env,
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("the build timed out", 1)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"the build failed (sbt exit {r.returncode})", 1)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(args, n):
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={n}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
        "-cp", open(CLASSPATH).read().strip(), "kgbench.Main",
        "--nproc", str(n), "--work-dir", work] + args
    env = dict(os.environ)
    env["GRAFT_MODEL_PATH"] = MODEL
    env.pop("SPARK_LOCAL_DIRS", None)  # keep Spark's scratch space inside the checkout
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"the run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def run_all(a, n):
    rows = []
    for w in WORKLOADS:
        code, out = run_jvm(["--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", str(a.trace)], n)
        sys.stdout.write(out)
        if code != 0:
            fail(f"workload {w} failed (exit {code})", 1)
        rows.append((w, json.loads(out.strip().splitlines()[-1])))
    print(f"\n{'workload':<9} {'correct':<8} {'attempted':>9} {'failed':>6}  metrics")
    for w, r in rows:
        ms = "  ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in r["metrics"].items())
        print(f"{w:<9} {str(r['correct']):<8} {r['attempted']:>9} {r['failed']:>6}  {ms}")
    print(json.dumps({w: r for w, r in rows}))


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and not a.workload:
        p.error("--workload is required")
    build()
    n = nproc()
    if a.self_test:
        code, out = run_jvm(["--self-test"], n)
        sys.stdout.write(out)
        sys.exit(code)
    if a.workload == "all":
        run_all(a, n)
        return
    code, out = run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace)], n)
    sys.stdout.write(out)
    sys.exit(code)


if __name__ == "__main__":
    main()
