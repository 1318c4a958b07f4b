#!/usr/bin/env python3
"""Crawl benchmark launcher.

Run from the root of a checkout:

    python3 crawlbench/run.py --workload bulk_bfs --seed 1 --seconds 20 --trace 0

It builds the benchmark (and with it the engine, from ../src/main/scala)
with sbt when the build is missing or older than a source, then runs one
JVM: `crawlbench.CrawlBench` with the given workload. Stores, Spark's local
directory and the JVM's temp directory live in a per-run directory under
crawlbench/.scratch, which is deleted when the run ends. The last stdout
line is the result JSON; anything else goes to stderr. The exit code is
non-zero, with no result printed, when the build, the run or the result
fails.
"""
import time

T0_MS = int(time.time() * 1000)  # set-up is timed from here

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("bulk_bfs", "polite_live", "stream_seeds")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to its forked JVMs).
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
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for d in (os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src", "main", "scala")):
        for dirpath, _, files in os.walk(d):
            for f in files:
                yield os.path.join(dirpath, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """sbt build when the classpath file is missing or stale; True if it
    built."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log("building with sbt")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        raise RuntimeError(f"sbt build failed with code {r.returncode}")
    return True


def heap_mb():
    """A quarter of MemTotal, between 2 and 8 GiB."""
    total_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(2048, min(8192, total_kb // 1024 // 4))


def run_jvm(args, scratch, t0_ms):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", f"-Xmx{heap_mb()}m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-cp", cp, "crawlbench.CrawlBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", scratch, "--t0-ms", str(t0_ms)]
    env = dict(os.environ)
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(scratch, "spark-local")
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(scratch, "engine")
    os.makedirs(os.path.join(scratch, "tmp"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"benchmark JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError(f"malformed result line: {lines[-1][:200]}")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated launcher still stops its build or JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"engine sources not found under {ROOT}/src/main/scala; run from a checkout")
        return 2
    scratch = os.path.join(HERE, ".scratch", f"run-{os.getpid()}")
    try:
        # a run that had to build times its set-up from the end of the build
        t0_ms = int(time.time() * 1000) if build() else T0_MS
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
        result = run_jvm(args, scratch, t0_ms)
    except (RuntimeError, ValueError, subprocess.SubprocessError, OSError) as e:
        log(f"run failed: {e}")
        return 1
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
