#!/usr/bin/env python3
"""Workload benchmark for the graft library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source with sbt (once per
source state; the classpath is cached under .bench_build/), then runs
one workload in a fresh JVM on local[<cpus>]. The JVM prints a
human-readable block and, as the last stdout line, one JSON object
{"correct", "attempted", "failed", "metrics"}, which this script
repeats as its own last line. See perfbench/README.md.
"""

import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

WORKLOADS = ("freq_pipeline", "index_serve")
BUILD_DIR = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the library's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Every file the build reads: the library, the benchmark, both builds."""
    picks = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(root, "perfbench", "build.sbt"),
             os.path.join(root, "perfbench", "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(root, "perfbench", "src", "main")):
        for d, _, files in os.walk(top):
            picks.extend(os.path.join(d, f) for f in files)
    return sorted(p for p in picks if os.path.isfile(p))


def source_stamp(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile the library and the benchmark; return the runtime classpath."""
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp.txt")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    print("perfbench: building library and benchmark with sbt ...", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=sbt_env(), stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    classpath = lines[-1] if lines else ""
    if proc.returncode != 0 or ".jar" not in classpath or classpath.startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(classpath + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout: {need} not found")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    classpath = build(root)

    base = os.path.join(root, BUILD_DIR)
    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = run_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    # Every run is a fresh JVM that loads Spark's classes; skipping the
    # bytecode verification of classpath classes cuts that load time and
    # leaves the compiled code as it is.
    jvm = ["java", "-Xms2g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-XX:+UnlockDiagnosticVMOptions", "-XX:-BytecodeVerificationRemote",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", classpath, "graft.perfbench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", args.trace,
                 "--dir", run_dir, "--results", os.path.join(base, "results")]

    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                last = line.strip()
            else:
                sys.stdout.write(line)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if timed_out.is_set():
        fail(f"run did not finish within {RUN_TIMEOUT_S} s", 4)
    if last is None:
        fail(f"the benchmark JVM exited with {code} and no result", 5)
    # the JSON object is the last line of stdout
    sys.stdout.write(last + "\n")
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
