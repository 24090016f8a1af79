#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt on first use (the
build is reused while no source file changes), then runs the workload in a
fresh JVM with its own work directory, which is deleted afterwards. With
--trace 1 the spans of the run are written to perfbench/out/ as JSONL.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source.stamp")
WORKLOADS = ("batch_pipeline", "monitor_serving")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the repository's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log("building engine and benchmark with sbt")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                          env=env, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_jvm(args, work, out):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed-size heap with the throughput collector: G1's concurrent
    # threads and heap resizing made identical runs differ more; temp and
    # JVM perf files stay inside the work directory
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    if out:
        cmd += ["--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        raise SystemExit(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"workload exited with {proc.returncode}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    build()
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    out = None
    if args.trace:
        out = os.path.join(HERE, "out", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        result = run_jvm(args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    if not result.get("correct"):
        sys.exit(1)


if __name__ == "__main__":
    main()
