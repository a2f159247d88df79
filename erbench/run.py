#!/usr/bin/env python3
"""Entity-resolution engine benchmark: one command per workload run.

    python3 erbench/run.py --workload batch|churn --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the engine and the
benchmark program from source with sbt (offline) into `erbench/target`;
later calls reuse that build while the sources are unchanged. Each call
starts one JVM at local[nproc], runs the workload in a fresh work directory
under `.bench_build/erbench/` (deleted on exit), and prints as its last
stdout line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. See erbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

import summary

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "erbench")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
STAMP = os.path.join(BUILD_DIR, "stamp.txt")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Driver heap, and a stop-the-world collector: the default collector's
# concurrent threads compete with the local[nproc] task threads and widened
# the run-to-run spread of the timings.
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC"]

# The module opens Spark needs on JDK 17 outside spark-submit (the same
# list as the repository's build.sbt).
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
    print(f"erbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (ENGINE_SRC, os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(BENCH_DIR, "build.sbt")
    yield os.path.join(BENCH_DIR, "project", "build.properties")


def source_stamp():
    h = hashlib.sha256()
    for p in sorted(sources()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark program with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work):
    raw_path = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.erbench.ErBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", raw_path]
    log = os.path.join(BUILD_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload timed out after {RUN_TIMEOUT_S} s; see {log}")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(raw_path):
        fail(f"benchmark JVM exited {p.returncode}; see {log}")
    with open(raw_path) as f:
        return json.load(f)


def main():
    # a terminated benchmark still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.exists(SPEC):
        fail(f"{SPEC} not found")
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    cp = build()
    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        traces = os.path.join(BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"run_id": f"erbench-{args.seed}", "spans": raw["spans"]}, f)
    res = summary.result(raw, spec, bool(args.trace))
    print(json.dumps({"host": raw["host"], "samples": summary.samples(raw),
                      "checks": raw["checks"], "error": raw["error"],
                      "failed_ops": [o for o in raw["ops"] if not o["ok"]]}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
