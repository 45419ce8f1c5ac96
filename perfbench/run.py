#!/usr/bin/env python3
"""Crawl benchmark launcher.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload quotes --seed 1 --seconds 40 --trace 0

Builds the engine and the benchmark from source with sbt (only when the
sources changed since the last build), then runs one benchmark JVM at
local[<cores>] and prints its result as the last line of standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes stays under perfbench/ (build output in
perfbench/target, per-run state, traces and records in
perfbench/.work).

A run measures exactly one complete crawl, the first of a fresh JVM (see
src/main/scala/perfbench/Main.scala); --seconds is recorded but does not
change what is measured.
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
WORK = os.path.join(BENCH_DIR, ".work")
STAMP = os.path.join(BENCH_DIR, "target", "bench-build.json")
WORKLOADS = ("quotes", "zipf-polite")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the engine build passes
# the same list to its forked JVMs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file that decides what the build produces, sorted."""
    out = []
    for top in ("build.sbt", "project/build.properties",
                "perfbench/build.sbt", "perfbench/project/build.properties"):
        out.append(os.path.join(ROOT, top))
    for tree in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, tree)):
            out.extend(os.path.join(d, f) for f in files)
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile with sbt and return the runtime classpath (cached by fp)."""
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp.get("fingerprint") == fp:
            return stamp["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SBT_OPTS"):
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g"
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime / fullClasspath"],
        cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    if "perfbench" not in classpath or ".jar" not in classpath:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("could not read the runtime classpath from sbt")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath,
                   "build_s": round(time.time() - t0, 1)}, f)
    return classpath


def heap_gb():
    """JVM heap from MemTotal, as the repo's test command sizes it:
    half of RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {WORKLOADS}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")

    fp = fingerprint()
    classpath = build(fp)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "state"):
        os.makedirs(os.path.join(run_dir, d))
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A pre-touched initial heap keeps first-touch page faults out of the
    # timed crawl, as the engine build does for its own JVMs.
    cmd += [f"-Xmx{heap_gb()}g", "-Xms2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--heap-gb", str(heap_gb()),
            "--run-dir", run_dir, "--out-dir", WORK, "--run-id", run_id,
            "--source-sha256", fp]
    log_path = os.path.join(WORK, "logs", run_id + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; log in {log_path}")
    shutil.rmtree(run_dir, ignore_errors=True)

    result = None
    for line in reversed(out.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
            break
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    if result["correct"]:
        # a run reports every metric BENCHMARK.json names for its mode, and
        # nothing else
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
        if set(result["metrics"]) != want:
            fail(f"metric names differ from BENCHMARK.json: missing "
                 f"{sorted(want - set(result['metrics']))}, extra "
                 f"{sorted(set(result['metrics']) - want)}")
    print(json.dumps(result))
    sys.exit(0 if proc.returncode == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
