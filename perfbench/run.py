#!/usr/bin/env python3
"""spiderspark benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine from the
checkout's sources together with the benchmark driver (sbt, in this
directory); later calls reuse the build while the sources are unchanged.
Each call starts one JVM (Spark local[4]) that sets up the workload's
inputs from the seed, measures for --seconds, checks every output and
writes the full result to .bench_build/results/. The last line on stdout
is a compact JSON summary: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Spark's logging goes to .bench_build/logs/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("crawl_deep", "crawl_wide", "wave_scan", "queries")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
QUERY_TABLES = "sf0.001"
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
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_digest():
    """Hash of every file the build reads: engine sources and this package."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env, logs):
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the root of a checkout")
    cp_file = os.path.join(BENCH, "target", "bench.classpath")
    stamp = os.path.join(BUILD, "build.stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if not (os.path.exists(cp_file) and os.path.exists(stamp)
                and open(stamp).read() == digest):
            sbt = shutil.which("sbt")
            if not sbt:
                fail("sbt not found")
            log = os.path.join(logs, "build.log")
            with open(log, "w") as out:
                rc = subprocess.run(
                    [sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                    cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            if rc != 0 or not os.path.exists(cp_file):
                fail(f"build failed (see {log})")
            with open(stamp, "w") as fh:
                fh.write(digest)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    classpath = build(env, logs)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(BUILD, "results", f"{tag}.json")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else shutil.which("java")
    cmd = [java, f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.bench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out,
            "--expected", os.path.join(BUILD, "expected"),
            "--data", os.path.join(BENCH, "data", QUERY_TABLES),
            "--untraced", os.path.join(
                BUILD, "results", f"{a.workload}-seed{a.seed}-trace0.json")]

    log = os.path.join(logs, f"{tag}.log")
    started = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)

        def stop(signum, _frame):
            # never leave the JVM behind when this runner is stopped
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s (see {log})")
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"run failed with code {proc.returncode} (see {log})")
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        summary = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line from the run (see {log})")
    print(f"perfbench: {tag} took {time.time() - started:.1f} s; "
          f"full result in {os.path.relpath(out, ROOT)}")
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
