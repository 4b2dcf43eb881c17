#!/usr/bin/env python3
"""graft benchmark: one seeded workload, end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload dashboard|ingest|curate \
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the harness from source
into $CARGO_TARGET_DIR (default .bench_build) on first use, runs the
harness JVM with a scratch root of its own under that directory, deletes
the root when the JVM has ended, and prints the harness's summary lines
followed by the JSON result as the last stdout line. Exits non-zero and
prints no result if the build, the run or the result line fails.
See perfbench/README.md for the workloads and metrics.
"""

import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "ingest", "curate")
RUN_TIMEOUT_S = 170
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        fail(f"graft sources not found under {roots[0]}")
    files = [os.path.join(HERE, "build.sh")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(build_dir, jars):
    """Compiles once per source tree; returns the classes directory."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(classes):
            tmp = classes + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), tmp, jars],
                               stdout=sys.stderr, stderr=sys.stderr)
            if r.returncode != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                fail("build failed")
            os.rename(tmp, classes)
            for old in os.listdir(build_dir):
                if old.startswith("classes-") and os.path.join(build_dir, old) != classes:
                    shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    return classes


def kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def spark_jars():
    """The jars of $SPARK_HOME, else of the first spark-submit on PATH that
    ships a Scala 2.13 compiler."""
    homes = [os.environ.get("SPARK_HOME")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.exists(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark installation found: set SPARK_HOME")


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    jars = spark_jars()
    classes = build(build_dir, jars)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    root = os.path.join(build_dir, "runs", run_id)
    os.makedirs(os.path.join(root, "tmp"))
    log_path = os.path.join(build_dir, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    env = dict(os.environ)
    # Spark's scratch dirs follow SPARK_LOCAL_DIRS over spark.local.dir
    env["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={root}/tmp"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cpus", str(cpus()), "--root", root,
            "--trace-out", os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.jsonl")]

    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                    cwd=root, text=True, start_new_session=True)
            timer = threading.Timer(RUN_TIMEOUT_S, kill, [proc])
            timer.start()
            signal.signal(signal.SIGTERM, lambda *_: (kill(proc), sys.exit(1)))
            try:
                out, _ = proc.communicate()
            finally:
                timer.cancel()
                kill(proc)  # any process the JVM left behind
    finally:
        shutil.rmtree(root, ignore_errors=True)
    lines = out.splitlines()

    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        fail(f"harness exited {proc.returncode} without a result (log: {log_path})")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
