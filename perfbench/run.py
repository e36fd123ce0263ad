#!/usr/bin/env python3
"""Run one perfbench workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 10 --trace 0

Builds the benchmark (graft's main sources plus perfbench's own) with sbt
when the sources changed since the last build, starts one JVM for the run,
relays its report lines and prints the JSON result as the last line. Every
file it writes stays under perfbench/target/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
FINGERPRINT = os.path.join(TARGET, "bench-fingerprint.txt")
WORKLOADS = ["serve_point", "serve_batch", "publish_swap"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx3g")
# Spark on JDK 17 outside spark-submit needs these (as in the repo's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    fp = sources_fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(FINGERPRINT):
        with open(FINGERPRINT) as f:
            if f.read().strip() == fp:
                return
    os.makedirs(os.path.join(TARGET, "logs"), exist_ok=True)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep the JVM's temporary files (and no perf-data file) out of /tmp
    env["SBT_OPTS"] = env.get("SBT_OPTS", SBT_OPTS) + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log_path = os.path.join(TARGET, "logs", "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        code = wait_or_kill(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(CLASSPATH):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {code}); log: {log_path}")
    with open(FINGERPRINT, "w") as f:
        f.write(fp)


def wait_or_kill(proc, timeout_s):
    """Wait for `proc`; past the timeout, kill its whole process group."""
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def run(args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tag = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(TARGET, "run", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(TARGET, "logs"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           # keep every JIT compiler thread for the whole run: the benchmark
           # reads their CPU time to leave it out of cpu_ms_per_unit
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    if args.clients:
        cmd += ["--clients", str(args.clients)]
    log_path = os.path.join(TARGET, "logs", f"{args.workload}-{args.seed}-t{args.trace}.log")
    result = None
    started = time.monotonic()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                for line in proc.stdout:
                    line = line.rstrip("\n")
                    if line.startswith("{") and '"metrics"' in line:
                        result = json.loads(line)
                    else:
                        print(line, flush=True)
                    if time.monotonic() - started > RUN_TIMEOUT_S:
                        break
                code = wait_or_kill(proc, max(1, RUN_TIMEOUT_S - (time.monotonic() - started)))
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
    finally:
        traces = [f for f in os.listdir(work) if f.startswith("trace-")] if os.path.isdir(work) else []
        if traces:
            os.makedirs(os.path.join(TARGET, "traces"), exist_ok=True)
            for f in traces:
                shutil.move(os.path.join(work, f), os.path.join(TARGET, "traces", f))
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"run failed (exit {code}); log: {log_path}")
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(result) != keys:
        fail(f"result keys {sorted(result)} != {sorted(keys)}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    ap.add_argument("--clients", type=int, default=0,
                    help="client threads (default: one per core); 1 makes fs counts repeat exactly")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft sources not found next to {HERE}; run from a full checkout")
    build()
    result = run(args)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
