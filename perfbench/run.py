#!/usr/bin/env python3
"""Build and run the engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's
sources together with the benchmark's (an sbt build of its own in this
directory) and caches the runtime classpath; later runs start the JVM
directly. All run state (stores, index roots, Spark local dirs) lives under
`.bench_state/` in the repository root and is swept before and after
each run. The last line of stdout is the result JSON; everything else
goes to stderr.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
WORKLOADS = ("billing_daily", "corpus_admit_search")

BUILD_TIMEOUT_S = 850
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


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            newest = max(newest, os.path.getmtime(base))
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile when the cached classpath is missing or older than a source."""
    if os.path.isfile(CLASSPATH) and \
            os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    log("building engine + benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.isfile(CLASSPATH):
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(args, state):
    cp = open(CLASSPATH).read().strip()
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        # deep enough call sites that every job names its index family
        "-Dspark.callstack.depth=200",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--state", os.path.join(state, "jvm"),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=state, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    return proc.returncode, (lines[-1] if lines else None)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    build()
    state = os.path.join(ROOT, ".bench_state")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    try:
        code, line = run_jvm(args, state)
    finally:
        shutil.rmtree(state, ignore_errors=True)
    if line is None or not line.startswith("{"):
        raise SystemExit(f"no result line (JVM exit {code})")
    print(line, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
